"""Unit tests for the round-2 training-data operators (pii, packing,
repetition metrics)."""

from pyspark.sql import functions as F

from entity_etl_spark.ext.packing import pack_sequences
from entity_etl_spark.ext.pii import pii_counts, redact_pii
from entity_etl_spark.ext.text import repetition_metrics


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@ex-ample.org or call +1-555-123-4567"),
            (2, "ssn 123-45-6789 from host 192.168.0.1"),
            (3, "clean text with no pii at all"),
        ],
        "id long, txt string",
    )
    out = df.select("id", *pii_counts("txt"), redact_pii("txt").alias("r"))
    rows = {r["id"]: r for r in out.collect()}
    assert (rows[1]["n_email"], rows[1]["n_phone"]) == (1, 1)
    assert (rows[2]["n_ssn"], rows[2]["n_ipv4"]) == (1, 1)
    assert rows[1]["r"] == "mail me at [EMAIL] or call [PHONE]"
    assert rows[2]["r"] == "ssn [SSN] from host [IP]"
    assert rows[3]["r"] == "clean text with no pii at all"


def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [("s1", i, 40 + (i * 13) % 50) for i in range(30)]
        + [("s2", i, 250) for i in range(5)],
        "shard string, doc long, n long",
    )
    out = pack_sequences(docs, "n", capacity=100, shard_col="shard", order_col="doc")
    rows = out.collect()
    # every doc's spans sum to its token count
    per_doc = {}
    for r in rows:
        per_doc.setdefault((r["shard"], r["doc_key"]), 0)
        per_doc[(r["shard"], r["doc_key"])] += r["span_tokens"]
    src = {(r["shard"], r["doc"]): r["n"] for r in docs.collect()}
    assert per_doc == src
    # every sequence except each shard's last holds exactly `capacity`
    per_seq = {}
    for r in rows:
        per_seq.setdefault((r["shard"], r["seq_id"]), 0)
        per_seq[(r["shard"], r["seq_id"])] += r["span_tokens"]
    for shard in ("s1", "s2"):
        seqs = sorted(k[1] for k in per_seq if k[0] == shard)
        assert seqs == list(range(len(seqs)))  # dense 0..N
        for s in seqs[:-1]:
            assert per_seq[(shard, s)] == 100
        assert 0 < per_seq[(shard, seqs[-1])] <= 100


def test_pack_sequences_long_doc_spans_many(spark):
    docs = spark.createDataFrame(
        [("s", 0, 10), ("s", 1, 350), ("s", 2, 10)], "shard string, doc long, n long"
    )
    out = pack_sequences(docs, "n", capacity=100, shard_col="shard", order_col="doc")
    spans = sorted(
        (r["seq_id"], r["span_tokens"])
        for r in out.filter(F.col("doc_key") == 1).collect()
    )
    # doc 1 starts at offset 10, runs to 360: spans seqs 0-3
    assert spans == [(0, 90), (1, 100), (2, 100), (3, 60)]


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # one token repeated 4x
            (2, "w x y z"),            # all distinct
            (3, "go go go stop"),      # top bigram "go go" = 2 of 3
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert out[1]["distinct_token_frac"] == 0.25
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[2]["distinct_token_frac"] == 1.0
    assert out[2]["top_token_frac"] == 0.25
    assert out[3]["top_token_frac"] == 0.75
    assert out[3]["top_bigram_frac"] == round(2 / 3, 6)


def test_wav_round_trip_exact(spark):
    import numpy as np

    from entity_etl_spark.ext.audio import _decode_wav, _encode_wav

    samples = np.array([0, 1, -1, 32767, -32768, 1234], dtype=np.int64)
    rate, n, data = _decode_wav(_encode_wav(samples, rate=16000))
    assert (rate, n) == (16000, 6)
    assert data.tolist() == samples.tolist()


def test_wav_decoder_rejects_garbage(spark):
    import pytest as _pytest

    from entity_etl_spark.ext.audio import _decode_wav

    with _pytest.raises(ValueError, match="RIFF"):
        _decode_wav(b"not a wav file at all........................")


def test_bmp_round_trip_exact(spark):
    import numpy as np

    from entity_etl_spark.ext.image import _decode_bmp, _encode_bmp

    gray = np.arange(64, dtype=np.uint8) * 4
    w, h, img = _decode_bmp(_encode_bmp(gray))
    assert (w, h) == (8, 8)
    # all three channels carry the gray value, top-down order restored
    assert img[:, :, 0].reshape(-1).tolist() == gray.tolist()
    assert (img[:, :, 0] == img[:, :, 1]).all() and (img[:, :, 1] == img[:, :, 2]).all()


def test_wav_features_via_spark(spark):
    from entity_etl_spark.ext.audio import decode_wav_features, synthesize_wav

    df = spark.createDataFrame(
        [(1, [0.0, 0.5, -0.5, 1.0])], "vec_id long, embedding array<float>"
    )
    row = decode_wav_features(synthesize_wav(df)).first()
    assert row["n_samples"] == 4 and row["sample_rate"] == 8000
    assert row["peak_abs"] == 32767  # 1.0 quantizes to full scale


def test_bloom_no_false_negatives_and_low_fp(spark):
    from entity_etl_spark.ext.bloom import build_bloom, probe_bloom

    members = spark.range(0, 500).withColumnRenamed("id", "k")
    probe = spark.range(0, 5000).withColumnRenamed("id", "k")
    bloom = build_bloom(members, "k", n_bits=16384, k=5)
    probable = {r["k"] for r in probe_bloom(probe, "k", bloom).collect()}
    assert set(range(500)) <= probable  # no false negatives, ever
    fp = len(probable) - 500
    assert fp <= 0.02 * 4500, fp
    # auto-sizing (the default): m/k derived from the key count so the
    # FP target holds at ANY n — the fixed-size form above saturates at
    # 10x the keys (sf0.1 sweep finding: fill -> 1, FP -> 79%)
    auto = build_bloom(members, "k", target_fp=0.01)
    assert auto.n_bits >= 4000 and auto.n_bits % 64 == 0
    probable2 = {r["k"] for r in probe_bloom(probe, "k", auto).collect()}
    assert set(range(500)) <= probable2
    assert (len(probable2) - 500) <= 0.02 * 4500
    # and it scales: 10x members -> ~10x bits, FP target unchanged
    big_members = spark.range(0, 5000).withColumnRenamed("id", "k")
    big = build_bloom(big_members, "k", target_fp=0.01)
    assert big.n_bits >= 10 * auto.n_bits * 0.9


def test_zorder_key_interleaves_bits(spark):
    from entity_etl_spark.ext.layout import zorder_key

    df = spark.createDataFrame(
        [(0b101, 0b011)], "a long, b long"
    ).select(zorder_key("a", "b", bits=3).alias("z"))
    # a bits -> even positions (1,0,1), b bits -> odd positions (0,1,1):
    # z = b2 a2 b1 a1 b0 a0 = 0 1 1 0 1 1 = 0b011011
    assert df.first()["z"] == 0b011011


def test_cluster_by_zorder_sorts_within_partitions(spark):
    from entity_etl_spark.ext.layout import cluster_by_zorder

    df = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("a"), (F.col("id") % 53).alias("b")
    )
    out = cluster_by_zorder(df, "a", "b", n_partitions=4, bits=6)
    def check(it):
        zs = [row["__z"] for row in it]
        assert zs == sorted(zs)
        return iter([len(zs)])
    sizes = out.rdd.mapPartitions(lambda it: check(it)).collect()
    assert sum(sizes) == 1000


def test_pq_roundtrip_and_rerank_recall(spark):
    import numpy as np

    from entity_etl_spark.ext.pq import (
        encode_pq, pq_topk, pq_topk_reranked, train_pq_codebooks,
    )
    from entity_etl_spark.ext.similarity import topk_brute_force

    rows = []
    rng = range(80)
    for i in rng:
        # 8-dim vectors in 4 well-separated DIRECTIONS (alternating-sign
        # patterns, so unit-normalization keeps clusters apart)
        pattern = [(1.0 if (d >> (i % 4)) & 1 else -1.0) for d in range(8)]
        vec = [p + ((i * 37 + d * 11) % 7) * 0.02 for d, p in enumerate(pattern)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq_codebooks(df, m=4, k=4, iterations=2)
    assert books.codebooks.shape == (4, 4, 2)
    codes = encode_pq(df, books)
    first = codes.orderBy("vec_id").first()
    assert len(first["codes"]) == 4
    q = df.filter("vec_id < 3")
    exact = {(r[0], r[1]) for r in
             topk_brute_force(df, q, k=3).collect()}
    rer = {(r[0], r[1]) for r in
           pq_topk_reranked(df, codes, q, books, k=3, shortlist=20).collect()}
    # clustered data + rerank: near-perfect recall
    assert len(rer & exact) / len(exact) >= 0.8
    approx = pq_topk(codes, q, books, k=3)
    assert approx.count() == 9


def test_lm_quality_scores_typical_text_above_gibberish(spark):
    from entity_etl_spark.ext.lm import score_documents, train_char_bigram_lm

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(20)],
        "doc_id long, text string",
    )
    model = train_char_bigram_lm(corpus)
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over"),
         (101, "zqxv kjwp mzzr qqqg vvkx zzzz"),
         (102, "a")],  # < 2 chars -> no bigrams -> absent
        "doc_id long, text string",
    )
    got = {r.doc_id: r.avg_logprob for r in
           score_documents(probe, model).collect()}
    assert set(got) == {100, 101}
    assert got[100] > got[101] + 1.0  # typical text scores far higher


def test_lm_unseen_prefix_scores_uniform(spark):
    import math

    from entity_etl_spark.ext.lm import score_documents, train_char_bigram_lm

    corpus = spark.createDataFrame([(0, "ababab")], "doc_id long, text string")
    model = train_char_bigram_lm(corpus)
    # 'zz' has unseen prefix 'z': smoothed to ln(1/V) with V=2 ({a,b})
    probe = spark.createDataFrame([(1, "zz")], "doc_id long, text string")
    row = score_documents(probe, model, round_to=6).first()
    assert row.n_bigrams == 1
    assert abs(row.avg_logprob - round(math.log(1 / 2), 6)) < 1e-9


def test_repeated_substring_windows_flags_shared_spans(spark):
    from entity_etl_spark.ext.dedup import repeated_substring_windows

    shared = "X" * 40  # spans >= k+stride-1 guarantee a shared window
    docs = spark.createDataFrame(
        [(1, "aaaaaaaa" + shared + "bbbbbbbb"),
         (2, "cccccccc" + shared + "dddddddd"),
         (3, "totally unrelated text with no repeats at all here!"),
         (4, "tiny")],  # < k chars -> excluded
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           repeated_substring_windows(docs, k=24, stride=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_dup_windows >= 1 and out[2].n_dup_windows >= 1
    assert out[3].n_dup_windows == 0 and out[3].dup_frac == 0.0
    assert out[1].dup_frac > 0.0


def test_semdedup_finds_clustered_dups_and_drops_min_id(spark):
    from entity_etl_spark.ext.semdedup import (
        semantic_near_dup_pairs, semdedup_drop_ids,
    )

    # two tight direction-clusters + one lone vector
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.02 * i, 0.0, 0.0]))       # cluster A
        rows.append((100 + i, [0.0, 0.0, 1.0, 0.02 * i]))  # cluster B
    rows.append((999, [-1.0, 1.0, -1.0, 1.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_near_dup_pairs(
        emb, n_clusters=4, threshold=0.99, n_probe=2
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all(a < b for a, b in got)
    # within-cluster tight pairs found; no cross-cluster pair possible at 0.99
    assert any(a < 10 and b < 10 for a, b in got)
    assert any(a >= 100 and b >= 100 for a, b in got)
    assert not any((a < 10) != (b < 10) for a, b in got)
    dropped = {r.drop_id for r in semdedup_drop_ids(pairs).collect()}
    assert 0 not in dropped and 100 not in dropped and 999 not in dropped


def test_semdedup_multi_probe_recovers_boundary_pairs(spark):
    from entity_etl_spark.ext.ivf import train_centroids
    from entity_etl_spark.ext.semdedup import assign_cells_multi

    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(4)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = train_centroids(emb, n_centroids=4, iterations=1)
    multi = assign_cells_multi(emb, cents, n_probe=2)
    per_vec = multi.groupBy("vec_id").count().collect()
    assert all(r["count"] == 2 for r in per_vec)


def test_exact_dedup_incremental_suppresses_seen_and_batch_dups(spark):
    from entity_etl_spark.ext.dedup import exact_dedup_incremental

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    kept1, state1 = exact_dedup_incremental(None, b1)
    assert {r.doc_id for r in kept1.collect()} == {1, 2}
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "beta")],
        "doc_id long, text string",
    )
    kept2, new2 = exact_dedup_incremental(state1, b2)
    assert {r.doc_id for r in kept2.collect()} == {11}
    state2 = state1.unionByName(new2)  # the call returns the delta
    assert state2.count() == 3  # alpha, beta, gamma
    kept3, _ = exact_dedup_incremental(state2, b2)
    assert kept3.count() == 0  # replayed batch fully suppressed


def test_grouped_split_keeps_groups_together_and_is_growth_stable(spark):
    from entity_etl_spark.ext.sampling import grouped_split

    rows = [(i, f"g{i % 17}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = grouped_split(df, "grp")
    per_group = out.groupBy("grp").agg(
        F.countDistinct("split").alias("ns")).collect()
    assert all(r.ns == 1 for r in per_group)
    # growth-stable: adding rows of new groups never reassigns old ones
    more = df.unionByName(
        spark.createDataFrame([(900, "brandnew")], "id long, grp string"))
    before = {(r.id): r.split for r in out.collect()}
    after = {(r.id): r.split
             for r in grouped_split(more, "grp").collect() if r.id < 900}
    assert before == after


def test_winsorize_clamps_to_group_quantiles(spark):
    from entity_etl_spark.operators import winsorize

    rows = [("a", float(v)) for v in range(1, 101)] + [("b", 1000.0), ("b", 0.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", ["g"], lower=0.1, upper=0.9)
    a = [r.v_w for r in out.filter("g = 'a'").collect()]
    assert abs(min(a) - 10.9) < 1e-9  # exact interpolated percentiles
    assert abs(max(a) - 90.1) < 1e-9
    assert len([x for x in a if abs(x - 10.9) < 1e-9 or abs(x - 90.1) < 1e-9]) >= 20


def test_standardize_zero_mean_unit_var_and_heldout_mode(spark):
    from entity_etl_spark.ext.features import dim_stats, standardize

    rows = [(i, [float(i), 2.0 * i + 1.0, 7.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    std = standardize(emb)
    z = (std.select(F.posexplode("embedding_std").alias("d", "z"))
            .groupBy("d").agg(F.round(F.avg("z"), 9).alias("m"),
                              F.round(F.stddev_pop("z"), 9).alias("s"))
            .collect())
    for r in z:
        assert r.m == 0.0
        assert r.s in (1.0, 0.0)  # constant dim 2 -> centered, sigma guard
    # held-out mode: stats fit on train transform a new row deterministically
    stats = dim_stats(emb)
    probe = spark.createDataFrame([(99, [4.5, 10.0, 7.0])],
                                  "vec_id long, embedding array<double>")
    got = standardize(probe, stats=stats).first()["embedding_std"]
    assert got[0] == 0.0 and got[2] == 0.0  # train means: 4.5, 10.0, const


def test_vector_norms_arrow_null_vector_yields_null(spark):
    """A NULL embedding row must produce a NULL norm (matching the JVM
    higher-order form and the SQL oracle) — the Arrow list slot for a
    null row is zero-length, so without reading the validity bitmap the
    ragged path would silently emit 0.0. Covers both batch shapes:
    all-non-null uniform (fast reshape) and mixed-null (ragged)."""
    from entity_etl_spark.ext.features import vector_norms_arrow

    rows = [(1, [3.0, 4.0]), (2, None), (3, []), (4, [0.6, 0.8])]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {r.vec_id: r.norm for r in vector_norms_arrow(df).collect()}
    assert got[1] == 5.0
    assert got[2] is None          # null vector -> null norm
    assert got[3] == 0.0           # empty (non-null) vector -> 0.0
    assert got[4] == 1.0
    # parity with the JVM higher-order form on the same frame
    jvm = {
        r.vec_id: r.norm
        for r in df.select(
            "vec_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        "embedding",
                        F.lit(0.0),
                        lambda a, x: a + x * x,
                    )
                ),
                6,
            ).alias("norm"),
        ).collect()
    }
    assert got == jvm


def test_clean_text_strips_controls_and_squeezes_whitespace(spark):
    from entity_etl_spark.ext.text import clean_text

    df = spark.createDataFrame(
        [(1, "  a\x00b\tc\n\nd   e\x1f ")], "id long, t string"
    )
    assert df.select(clean_text("t").alias("c")).first().c == "a b c d e"


def test_prepare_training_data_stages(spark):
    from entity_etl_spark.ext.prep import prepare_training_data

    good = ("the quick brown fox jumps over the lazy dog and it "
            "is a fine day in the park of wonders to see it all ") * 2
    rows = [
        (1, good, "src_a"),
        (2, good + "  ", "src_a"),      # dup after cleaning -> dropped
        (3, "tiny text", "src_a"),      # fails min_tokens
        (4, good + "unique tail here", "src_b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = prepare_training_data(docs, min_tokens=20, min_quality=0.15)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 4}
    assert "  " not in got[1].text
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("ns")).collect()
    assert all(r.ns == 1 for r in per_group)


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from entity_etl_spark.ext.sampling import weighted_sample_per_group

    rows = [("g", i, 1.0 if i < 90 else 1000.0) for i in range(100)]
    df = spark.createDataFrame(rows, "grp string, id long, w double")
    s1 = {r.id for r in weighted_sample_per_group(df, "grp", "id", "w", 10).collect()}
    s2 = {r.id for r in
          weighted_sample_per_group(df.repartition(7), "grp", "id", "w", 10).collect()}
    assert s1 == s2 and len(s1) == 10  # layout-independent determinism
    # the 10 heavy rows (1000x weight) dominate the sample
    assert len([i for i in s1 if i >= 90]) >= 8
    # zero/negative weights are excluded outright
    z = spark.createDataFrame([("g", 1, 0.0), ("g", 2, -3.0), ("g", 3, 1.0)],
                              "grp string, id long, w double")
    assert {r.id for r in
            weighted_sample_per_group(z, "grp", "id", "w", 5).collect()} == {3}


def test_source_kl_zero_for_identical_distributions(spark):
    from entity_etl_spark.ext.lm import source_kl_divergence

    import math

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2"),
         (3, "x x x", "s3")],
        "doc_id long, text string, source string",
    )
    got = {r.source: r.kl_vs_corpus for r in source_kl_divergence(docs).collect()}
    # s1 and s2 share one distribution; s3 diverges harder: KL(s3)=ln 3,
    # KL(s1)=ln(3/2) against the 9-token corpus mix
    assert got["s1"] == got["s2"] == round(math.log(1.5), 4)
    assert got["s3"] == round(math.log(3.0), 4)


def test_video_round_trip_exact(spark):
    """VID0 encode/decode is byte-exact; frame f is the quantized vector
    rolled by f, so frames differ but share one pixel population."""
    import numpy as np

    from entity_etl_spark.ext.video import _decode_video, _encode_video

    gray = np.arange(64, dtype=np.uint8)
    n, w, h, frames = _decode_video(_encode_video(gray))
    assert (n, w, h) == (6, 8, 8)
    assert np.array_equal(frames[0].ravel(), gray)
    assert np.array_equal(frames[2].ravel(), np.roll(gray, 2))
    assert not np.array_equal(frames[0], frames[1])
    assert frames.mean() == gray.mean()


def test_video_decoder_rejects_garbage(spark):
    import pytest as _pytest

    from entity_etl_spark.ext.video import _decode_video

    with _pytest.raises(ValueError):
        _decode_video(b"MP4?definitely-not-a-vid0-container.........")


def test_video_frame_sampling_via_spark(spark):
    """stride-2 sampling keeps frames 0,2,4 of 6; mean equals the full
    clip mean (rotation-invariant population)."""
    from entity_etl_spark.ext.video import (
        sample_frame_features,
        synthesize_video,
    )

    df = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in sample_frame_features(synthesize_video(df)).collect()
    }
    assert got[1]["n_frames"] == 6 and got[1]["n_sampled"] == 3
    # 0.0 -> floor(0.5*255+0.5)=128; 1.0 -> 255
    assert got[1]["mean_sampled_pixel"] == 128.0
    assert got[2]["mean_sampled_pixel"] == 255.0


def test_collect_matrix_row_cap_raises(spark, monkeypatch):
    """The driver-side collect in the similarity helpers is guarded: a
    query/reference side larger than MAX_DRIVER_COLLECT_ROWS raises
    instead of OOMing the driver (r2 verdict item 4)."""
    from entity_etl_spark.ext import similarity

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    monkeypatch.setattr(similarity, "MAX_DRIVER_COLLECT_ROWS", 5)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refusing the driver-side collect"):
        similarity._collect_matrix(df, "vec_id", "embedding", "test")
    # under the cap: works and normalizes
    monkeypatch.setattr(similarity, "MAX_DRIVER_COLLECT_ROWS", 100)
    ids, mat = similarity._collect_matrix(df, "vec_id", "embedding", "test")
    assert len(ids) == 10 and abs((mat[3] ** 2).sum() - 1.0) < 1e-9


def test_exact_cosine_pairs_matches_join_form(spark):
    """Block-matmul exact pairs == the declarative join+cosine form."""
    import random

    from entity_etl_spark.ext.similarity import cosine, exact_cosine_pairs
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b)
        for r in exact_cosine_pairs(df, 0.5).collect()
    }
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= 0.5)
        .collect()
    }
    assert got == want and len(want) > 0


def test_repeated_substring_spans_pins_maximal_extents(spark):
    """Constructed fixture: a 20-char block shared by docs 1 and 2 at
    known offsets must come back as EXACTLY one maximal span with the
    planted (start_a, start_b, span_len); the control doc shares nothing
    >= k chars and must appear in no span."""
    from entity_etl_spark.ext.dedup import repeated_substring_spans

    shared = "abcdefghijklmnopqrst"  # 20 distinct chars, no inner repeats
    rows = [
        (1, "AAAA" + shared + "BBBB"),   # shared at 1-based pos 5
        (2, "CCCC" + shared + "DDDD"),   # shared at 1-based pos 5
        (3, "EEEEFFFFGGGGHHHHIIIIJJJJ"), # control: no >=8-char overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_substring_spans(docs, k=8, stride=2, max_df=50).collect()
    assert [(r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_len) for r in got] == [
        (1, 2, 5, 5, 20)
    ]


def test_repeated_substring_spans_merges_only_adjacent(spark):
    """Two separate shared blocks in the same doc pair must yield two
    spans, not one merged span (the gap between them breaks the chain)."""
    from entity_etl_spark.ext.dedup import repeated_substring_spans

    b1, b2 = "abcdefghij", "qrstuvwxyz"  # 10 chars each
    rows = [
        (1, b1 + "1111" + b2),  # b1 at 1, b2 at 15
        (2, b1 + "2222" + b2),  # same offsets, different gap content
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.start_a, r.start_b, r.span_len)
        for r in repeated_substring_spans(
            docs, k=8, stride=2, max_df=50
        ).collect()
    )
    assert got == [(1, 1, 10), (15, 15, 10)]


def test_classifier_gate_composes_into_prep(spark):
    """classifier_threshold adds a third quality gate: an impossible
    threshold drops every doc; the default (None) changes nothing."""
    from entity_etl_spark.ext.prep import prepare_training_data

    rows = [
        (i, "the quick brown fox jumps over the lazy dog " * 5, "web")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = prepare_training_data(docs, min_tokens=5, min_quality=0.0)
    assert base.count() > 0
    gated_all_out = prepare_training_data(
        docs, min_tokens=5, min_quality=0.0, classifier_threshold=1.1
    )
    assert gated_all_out.count() == 0
    gated_noop = prepare_training_data(
        docs, min_tokens=5, min_quality=0.0, classifier_threshold=0.0
    )
    assert gated_noop.count() == base.count()


def test_bpe_learn_merges_greedy_left_to_right(spark):
    """'aaa' x2 + 'bb': step 1 merges (a,a) with weighted count 4 and the
    greedy left-to-right rewrite gives 'aa a' (NOT 'a aa'), so step 2
    must merge (aa, a) with count 2."""
    from entity_etl_spark.ext.bpe import learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaa bb"), (2, "aaa")], "doc_id long, text string"
    )
    got = [
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in learn_bpe_merges(docs, n_merges=2).orderBy("step").collect()
    ]
    assert got == [(1, "a", "a", 4), (2, "aa", "a", 2)]


def test_minhash_dedup_incremental_state_grows_by_survivors(spark):
    """Two increments: batch 2 replays batch 1's surviving content (near
    dup) -> dropped via the SIGNATURE state alone; the returned delta is
    exactly the survivors."""
    from entity_etl_spark.ext.dedup import minhash_dedup_incremental

    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [(1, base * 3)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(10, base * 3 + "tail one"),          # near-dup of corpus doc 1
         (11, "completely different words about spark plans and shuffles "
              "joined with more unique tokens here")],
        "doc_id long, text string",
    )
    kept1, sigs1 = minhash_dedup_incremental(corpus, b1)
    assert [r.doc_id for r in kept1.collect()] == [11]
    assert sigs1.count() == 2  # corpus doc 1 + survivor 11

    b2 = spark.createDataFrame(
        [(20, "completely different words about spark plans and shuffles "
              "joined with more unique tokens here padded"),  # ~dup of 11
         (21, "an entirely fresh third document with its own vocabulary "
              "unlike anything previously admitted to the corpus")],
        "doc_id long, text string",
    )
    kept2, sigs2 = minhash_dedup_incremental(
        corpus.unionByName(b1), b2, corpus_sigs=sigs1
    )
    assert [r.doc_id for r in kept2.collect()] == [21]
    assert [r.doc for r in sigs2.collect()] == [21]
    assert sigs1.unionByName(sigs2).count() == 3


def test_cdc_spans_find_misaligned_repeats(spark):
    """The grid-strided spans miss a shared block whose two offsets are
    NOT congruent mod stride; content-defined fingerprints find it, and
    the emitted span is substring-verified exact."""
    from entity_etl_spark.ext.dedup import (
        repeated_substring_spans,
        repeated_substring_spans_cdc,
    )

    shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGH"  # 44 chars
    rows = [
        (1, "XXXX" + shared + "YYYY"),    # block at 1-based pos 5
        (2, "ZZZZZZZ" + shared + "WWWW"), # block at pos 8: 8-5=3, not %4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    grid = repeated_substring_spans(docs, k=8, stride=4, max_df=50).collect()
    assert grid == []  # offsets 5 vs 8 are incongruent mod 4 -> invisible
    cdc = repeated_substring_spans_cdc(
        docs, k=8, w=4, max_gap=32, max_df=50
    ).collect()
    assert len(cdc) >= 1
    for r in cdc:
        assert r.doc_a == 1 and r.doc_b == 2
        # verified-exact contract: the span really is a repeat
        assert (
            rows[0][1][r.start_a - 1 : r.start_a - 1 + r.span_len]
            == rows[1][1][r.start_b - 1 : r.start_b - 1 + r.span_len]
        )
        # and it lies inside the planted block on both sides
        assert r.start_a >= 5 and r.start_a + r.span_len <= 5 + 44


def test_apply_bpe_merges_counts_and_runs(spark):
    from entity_etl_spark.ext.bpe import apply_bpe_merges

    docs = spark.createDataFrame(
        [
            # "agg spark": agg -> a g g -> (ag) g -> (agg); spark ->
            # s p a r k -> (sp) a r k -> (spa) r k  => 1 + 3 tokens
            (1, "agg spark"),
            # run semantics: "gagag" -> g a g a g -> g (ag) (ag)
            (2, "gagag aga"),
            # word with no merge hits stays char-segmented
            (3, "xyz"),
            # no alphabetic words at all -> reported as (0, 0), not dropped
            (4, "123 456 !!!"),
        ],
        "doc_id long, text string",
    )
    merges = [("a", "g"), ("ag", "g"), ("s", "p"), ("sp", "a")]
    got = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in apply_bpe_merges(docs, merges).collect()
    }
    # doc 2: gagag -> 3 tokens; aga -> (ag) a -> 2 tokens
    assert got == {1: (2, 4), 2: (2, 5), 3: (1, 3), 4: (0, 0)}
    # single-materialization contract: the (doc, word, cnt) intermediate
    # is localCheckpointed, so the corpus explode must NOT appear in the
    # final plan at all (each consumer reads the checkpoint, not lineage)
    plan = (
        apply_bpe_merges(docs, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate explode") == 0


def test_prepare_training_data_cap_and_shuffle(spark):
    from entity_etl_spark.ext.prep import prepare_training_data

    base = ("the quick brown fox jumps over the lazy dog and it "
            "is a fine day in the park of wonders to see it all ")
    rows = [
        (i, base + f"tail variant {i} " * 3, f"src_{i % 2}")
        for i in range(1, 9)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = prepare_training_data(
        docs,
        min_tokens=10,
        min_quality=0.0,
        per_source_cap=2,
        shuffle_seed="ep0",
    )
    got = out.collect()
    # cap: at most 2 docs per source survive
    per_src = {}
    for r in got:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    assert all(v <= 2 for v in per_src.values()) and len(got) == 4
    # shuffle_rank is a permutation of 1..n
    assert sorted(r.shuffle_rank for r in got) == [1, 2, 3, 4]


def test_expectations_detect_violations(spark):
    from entity_etl_spark.ext import expectations as X

    child = spark.createDataFrame(
        [(1, "a", 5.0), (1, "a", 5.0), (2, None, -1.0), (3, "zz", 120.0)],
        "k long, cat string, v double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    one = X.run_checks(
        child,
        {
            "nulls": X.not_null(["k", "cat"]),
            "bad_cat": X.accepted_values("cat", ["a", "b"]),
            "oor": X.in_range("v", 0.0, 100.0),
        },
    ).first()
    # NULL cat row; 'zz' outside set (NULL is not counted as bad value —
    # isin(NULL) is NULL, the not-null check owns it); -1 and 120 out of range
    assert (one["nulls"], one["bad_cat"], one["oor"]) == (1, 1, 2)
    assert X.unique_violations(child, ["k"]).first()["surplus_rows"] == 1
    assert (
        X.fk_violations(child, "k", parent, "pk").first()["orphan_rows"] == 1
    )


def test_cusum_window_algebra_equals_pages_recursion(spark):
    """The registry query's CUSUM unroll (prefix sum minus min(0, running
    min)) must equal Page's recursion S_t = max(0, S_{t-1} + d_t) — the
    oracle shares the algebra, so only an independent reference
    implementation can catch a formula bug (a first-day-positive series
    exposed exactly that: without the 0 baseline, d=[3,-1] yields [0,0]
    instead of [3,2])."""
    from pyspark.sql import Window as W

    devs = [3.0, -1.0, 4.0, -9.0, 2.0, 2.0, -1.0, 8.0]
    # Page's recursion, reference implementation
    want, s = [], 0.0
    for d in devs:
        s = max(0.0, s + d)
        want.append(round(s, 6))
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(devs)], "t int, d double"
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    pref = F.sum("d").over(w)
    out = df.withColumn(
        "cusum", F.round(pref - F.least(F.min(pref).over(w), F.lit(0.0)), 6)
    )
    got = [r.cusum for r in out.orderBy("t").collect()]
    assert got == want


def test_cdc_spans_split_at_differing_gap_instead_of_dropping(spark):
    """Two real repeated blocks separated by a short stretch of DIFFERING
    content on the same diagonal: link-level verification must split the
    chain into two exact spans. (The earlier whole-span-only check glued
    them into one span, failed the equality, and emitted NOTHING.)"""
    from entity_etl_spark.ext.dedup import repeated_substring_spans_cdc

    b1 = "abcdefghijklmnopqrstuvwxyz012345"   # 32 chars
    b2 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ6789!@"   # 32 chars
    rows = [
        (1, "XX" + b1 + "11111111" + b2 + "YY"),
        (2, "XX" + b1 + "22222222" + b2 + "YY"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = repeated_substring_spans_cdc(
        docs, k=8, w=4, max_gap=48, max_df=50
    ).collect()
    assert len(got) >= 2, got  # both blocks survive as separate spans
    for r in got:
        sa = rows[0][1][r.start_a - 1 : r.start_a - 1 + r.span_len]
        sb = rows[1][1][r.start_b - 1 : r.start_b - 1 + r.span_len]
        assert sa == sb  # exactness contract holds per span
        assert "1" not in sa and "2" not in sa  # no span crosses the gap


def test_semdedup_generic_string_ids(spark):
    """cell_pairs_gram must stay generic over any ordered id type (the
    id_col parameter's contract) — string ids round-trip through the
    Arrow seam with ordering preserved."""
    from entity_etl_spark.ext.semdedup import cell_pairs_gram

    rows = [
        ("docA", 0, [1.0, 0.0]), ("docB", 0, [1.0, 0.001]),
        ("docC", 0, [0.0, 1.0]),
    ]
    cells = spark.createDataFrame(
        rows, "doc_uuid string, cell int, embedding array<double>"
    )
    got = cell_pairs_gram(
        cells, 0.99, id_col="doc_uuid", vec_col="embedding"
    ).collect()
    assert [(r.id_a, r.id_b) for r in got] == [("docA", "docB")]
    assert got[0].cos_sim > 0.99


def test_entity_resolution_picks_argmin_with_tiebreak(spark):
    from entity_etl_spark.ext.er import resolve_entities

    clean = spark.createDataFrame(
        [(1, 1, "martha stewart"), (2, 1, "marta stewart"),
         (3, 1, "martin stewart"), (9, 2, "martha stewart")],
        "cid long, blk int, name string",
    )
    dirty = spark.createDataFrame(
        # 'martha stewrt' is 1 edit from cid 1, 2 from cid 2 -> cid 1;
        # blocking confines to blk=1 (cid 9 is identical but unreachable)
        [(100, 1, "martha stewrt"),
         # 'marth stewart': 1 edit from cid 1 (insert 'a') AND 1 edit
         # from cid 2 (substitute) -> a true tie, broken by lower cid
         (200, 1, "marth stewart"),
         # blk=7 exists in no clean record: zero candidates -> must
         # still surface, with NULL match (keep_unmatched contract)
         (300, 7, "nobody home")],
        "did long, blk int, name string",
    )
    got = {
        r.did: (r.matched_id, r.edit_dist)
        for r in resolve_entities(
            dirty, clean,
            block_cols=["blk"], dirty_id="did", clean_id="cid",
            dirty_name="name", clean_name="name",
        ).collect()
    }
    assert got[100] == (1, 1)
    assert got[200] == (1, 1)  # tie on distance -> lower cid wins
    assert got[300] == (None, None)  # unmatched surfaces, not dropped
    matched_only = resolve_entities(
        dirty, clean,
        block_cols=["blk"], dirty_id="did", clean_id="cid",
        dirty_name="name", clean_name="name", keep_unmatched=False,
    )
    assert {r.did for r in matched_only.collect()} == {100, 200}


def test_statistical_queries_match_reference_implementations(spark):
    """Independent pure-Python references for the statistical operators
    (Gini, KS, Benford chi2, Markov rows): the DuckDB oracles share each
    query's algebra, so only a from-first-principles reference can catch
    a formula bug (the CUSUM baseline lesson)."""
    import math

    from pyspark.sql import Window as W

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]

    # --- Gini: closed form must equal mean-absolute-difference / 2*mean
    n = len(vals)
    mad = sum(abs(a - b) for a in vals for b in vals) / (n * n)
    want_gini = round(mad / (2 * (sum(vals) / n)), 6)
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, value double"
    )
    ranked = df.select(
        "value", F.row_number().over(W.orderBy("value", "id")).alias("i")
    )
    cnt = F.count(F.lit(1))
    got_gini = ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("value"))
            / (cnt * F.sum("value"))
            - (cnt + 1.0) / cnt,
            6,
        ).alias("g")
    ).first()["g"]
    assert abs(got_gini - want_gini) < 1e-9

    # --- KS: distinct-value CDF window vs direct sup over all points
    a = [1.0, 2.0, 2.0, 3.0, 5.0]
    b = [2.0, 4.0, 4.0, 6.0]
    pts = sorted(set(a) | set(b))
    want_d = max(
        abs(
            sum(1 for x in a if x <= p) / len(a)
            - sum(1 for x in b if x <= p) / len(b)
        )
        for p in pts
    )
    rows = [(v, 1, 0) for v in a] + [(v, 0, 1) for v in b]
    kdf = spark.createDataFrame(rows, "value double, c1 int, c2 int")
    g = kdf.groupBy("value").agg(
        F.sum("c1").alias("c1"), F.sum("c2").alias("c2")
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, W.currentRow)
    got_d = (
        g.select(
            (F.sum("c1").over(w) / float(len(a))).alias("f1"),
            (F.sum("c2").over(w) / float(len(b))).alias("f2"),
        )
        .agg(F.max(F.abs(F.col("f1") - F.col("f2"))).alias("d"))
        .first()["d"]
    )
    assert abs(got_d - want_d) < 1e-9

    # --- Benford digit extraction: the string scan must equal the true
    # first significant digit (float normalization v/10^floor(log10 v)
    # FAILS this — 0.7 and 7e-5 round to 6.999...; the query scans the
    # string precisely to dodge that)
    import re

    for v in (0.042, 0.7, 1.0, 9.99, 123.0, 7e-5):
        want = next(c for c in f"{v:.10e}" if c.isdigit())
        got = re.search(r"[1-9]", repr(v)).group(0)
        assert got == want, (v, got, want)

    # --- Markov: per-from probabilities sum to 1
    ev = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("ababcabcc")],
        "user_id long, event_id long, event_type string",
    )
    wseq = W.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(wseq).alias("t"),
    ).filter(F.col("t").isNotNull())
    p = (
        seq.groupBy("f", "t").agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "p", F.col("n") / F.sum("n").over(W.partitionBy("f"))
        )
    )
    sums = {r.f: r.s for r in p.groupBy("f").agg(F.round(F.sum("p"), 9).alias("s")).collect()}
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_semdedup_incremental_state_and_drops(spark):
    from entity_etl_spark.ext.semdedup import (
        materialize_semantic_state,
        semantic_dedup_incremental,
    )

    # state: two tight direction-clusters; batch: near-dups of each
    # cluster, one near-dup pair WITHIN the batch, one novel vector
    rows = []
    for i in range(8):
        rows.append((i, [1.0, 0.02 * i, 0.0, 0.0]))        # cluster A
        rows.append((50 + i, [0.0, 0.0, 1.0, 0.02 * i]))   # cluster B
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [
            (100, [1.0, 0.01, 0.0, 0.0]),    # dup of cluster A -> drop
            (101, [0.0, 0.0, 1.0, 0.01]),    # dup of cluster B -> drop
            (102, [0.5, -0.5, 0.5, -0.5]),   # novel -> kept
            (103, [0.5001, -0.5, 0.5, -0.5]),  # dup of batch 102 -> drop
        ],
        "vec_id long, embedding array<double>",
    )
    cents, cells = materialize_semantic_state(corpus, n_clusters=3)
    kept, delta = semantic_dedup_incremental(
        batch, cents, cells, threshold=0.99, n_probe=2
    )
    kept_ids = {r.vec_id for r in kept.collect()}
    assert kept_ids == {102}
    # state grows by exactly the kept docs (one primary-cell row each)
    drows = delta.collect()
    assert {r.vec_id for r in drows} == {102}
    assert set(delta.columns) >= {"vec_id", "embedding", "cell"}
    # a second increment against the grown state drops a dup of the
    # newly-kept doc — the accumulated state is live, not frozen
    batch2 = spark.createDataFrame(
        [(200, [0.5, -0.5, 0.5001, -0.5]), (201, [-1.0, -1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    state2 = cells.unionByName(delta)
    kept2, delta2 = semantic_dedup_incremental(
        batch2, cents, state2, threshold=0.99, n_probe=2
    )
    assert {r.vec_id for r in kept2.collect()} == {201}
    assert delta2.count() == 1


def test_semdedup_incremental_empty_drop_path(spark):
    from entity_etl_spark.ext.semdedup import (
        materialize_semantic_state,
        semantic_dedup_incremental,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.0, -1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(10, [9.0, -9.0, 9.0, -9.0])],
        "vec_id long, embedding array<double>",
    )
    cents, cells = materialize_semantic_state(corpus, n_clusters=2)
    kept, delta = semantic_dedup_incremental(
        batch, cents, cells, threshold=0.999, n_probe=1
    )
    assert kept.count() == 1 and delta.count() == 1


# ------------------------------------------------- compaction (round 10)


def test_compact_parquet_zero_shuffle_and_content(spark, tmp_path):
    from entity_etl_spark.ext.layout import (
        compact_parquet,
        parquet_file_stats,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(0, 10_000).withColumn(
        "payload", F.concat(F.lit("row-"), F.col("id"))
    )
    df.repartition(24).write.parquet(src)
    n_in, _ = parquet_file_stats(src)
    assert n_in == 24

    # the compaction read plans NO exchange: bins come from the file
    # scan itself
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(4 << 20))
    try:
        plan = (
            spark.read.parquet(src)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")

    back = compact_parquet(spark, src, dst)
    n_out, _ = parquet_file_stats(dst)
    assert n_out < n_in
    assert back.count() == 10_000
    a = sorted(r.payload for r in back.collect())
    b = sorted(f"row-{i}" for i in range(10_000))
    assert a == b


def test_compact_parquet_restores_session_conf(spark, tmp_path):
    from entity_etl_spark.ext.layout import compact_parquet

    src, dst = str(tmp_path / "s2"), str(tmp_path / "d2")
    spark.range(100).write.parquet(src)
    before = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    compact_parquet(spark, src, dst, target_bytes=1 << 20)
    after = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    assert before == after


def test_assign_cells_multi_drops_padded_duplicate_probes(spark):
    """Two-level assignment pads a short candidate list by repeating its
    last cell; the padded duplicates must NOT survive into the emitted
    (id, cell) rows or the same vector enters one cell's gram twice and
    pairs with itself (r11 review finding). Geometry: 256 centroids
    (>= TWO_LEVEL_MIN_K) where the coarse index isolates e1 and e2 into
    singleton super-cells (both are stride-init seeds), so a query
    between them probes exactly those two supers and sees only TWO
    candidate cells for n_probe=3."""
    import numpy as np

    from entity_etl_spark.ext.ivf import TWO_LEVEL_MIN_K, _coarse_index
    from entity_etl_spark.ext.semdedup import assign_cells_multi

    k = 256
    assert k >= TWO_LEVEL_MIN_K
    cents = np.zeros((k, 3))
    cents[:, 0] = 1.0          # bulk at e0
    cents[0] = [0.0, 1.0, 0.0]   # stride-init seed -> singleton super
    cents[16] = [0.0, 0.0, 1.0]  # stride-init seed -> singleton super
    sup, children = _coarse_index(cents)
    # the geometry must actually produce the two singleton supers the
    # padding path needs — assert it so the test can't pass vacuously
    sizes = sorted(len(c) for c in children)
    assert sizes[0] == 1 and sizes[1] == 1

    q = [0.0, 2 ** -0.5, 2 ** -0.5]
    emb = spark.createDataFrame(
        [(7, q)], "vec_id long, embedding array<double>"
    )
    out = assign_cells_multi(emb, cents, n_probe=3).collect()
    cells = [r["cell"] for r in out]
    # only the two probed singleton supers' cells are reachable: the
    # third probe was padding and must have been dropped
    assert sorted(cells) == [0, 16]
    assert [r["__probe"] for r in sorted(out, key=lambda r: r["__probe"])] == [0, 1]
