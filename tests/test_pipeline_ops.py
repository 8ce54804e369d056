"""LLM-data-pipeline operators: dedup, similarity, textstats, multimodal,
relational extras."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark.operators import dedup, relational, similarity, textstats, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "a completely different document about spark query engines and planning",
        "numerical histograms accelerate gradient boosted tree training at scale",
        "language identification uses stopword statistics for a cheap heuristic",
    ]
    rows = []
    i = 0
    for b in base:
        rows.append((i, b)); i += 1
    rows.append((i, base[0])); i += 1                      # exact dup of 0
    near = base[2].replace("scale", "very large scale")     # near dup of 2
    rows.append((i, near)); i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    d = dedup.exact_duplicates(docs).toPandas()
    assert set(d["id"]) == {0, 4}
    kept = dedup.dedup_exact(docs).toPandas()
    assert len(kept) == 5 and 4 not in set(kept["doc_id"])


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8, shingle_n=3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 4) in got          # identical docs always collide
    assert (2, 5) in got          # near dup should collide with 8 bands
    verified = dedup.ngram_jaccard_on_pairs(
        docs, dedup.minhash_lsh_pairs(docs, n_hashes=16, bands=8, shingle_n=3),
        shingle_n=3).toPandas()
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for _, r in verified.iterrows()}
    assert j[(0, 4)] == pytest.approx(1.0)
    assert 0.3 < j[(2, 5)] < 1.0


def test_similarity_join_complete_recall(spark):
    # Prefix filtering must find EVERY pair above the threshold —
    # cross-check against the brute-force all-pairs Jaccard on a
    # randomized small-vocabulary corpus where many pairs straddle
    # the threshold.
    import itertools
    import random

    rng = random.Random(13)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))
             for _ in range(40)]
    # plant exact and near duplicates
    texts.append(texts[0])
    texts.append(texts[1] + " alpha beta")
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")

    def bigrams(t):
        w = t.split()
        return {" ".join(w[i:i + 2]) for i in range(len(w) - 1)}

    t = 0.5
    expect = set()
    for (ia, ta), (ib, tb) in itertools.combinations(enumerate(texts), 2):
        sa, sb = bigrams(ta), bigrams(tb)
        if sa and sb and len(sa & sb) / len(sa | sb) >= t:
            expect.add((ia, ib))
    got = dedup.similarity_join(df, threshold=t, shingle_n=2).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == expect
    assert len(expect) > 3  # the corpus actually exercises the join
    # reported jaccard values are the exact set ratios
    for _, r in got.iterrows():
        sa, sb = bigrams(texts[int(r["id_a"])]), bigrams(texts[int(r["id_b"])])
        assert r["jaccard"] == pytest.approx(len(sa & sb) / len(sa | sb))


def test_minhash_dedup_end_to_end(spark, docs):
    out = dedup.minhash_dedup(docs, n_hashes=16, bands=8, shingle_n=3, threshold=0.3)
    ids = {r["doc_id"] for r in out.collect()}
    assert 4 not in ids and 5 not in ids
    assert {0, 1, 2, 3} <= ids


def test_hash_split_deterministic(spark, docs):
    from xgboost_spark.operators.sampling import hash_split
    a = hash_split(docs, "doc_id", {"train": 0.7, "val": 0.3}).toPandas()
    b = hash_split(docs, "doc_id", {"train": 0.7, "val": 0.3}).toPandas()
    ma = dict(zip(a["doc_id"], a["split"]))
    mb = dict(zip(b["doc_id"], b["split"]))
    assert ma == mb                      # reproducible across runs
    assert set(ma.values()) <= {"train", "val"}
    # key-stable: restricting the input never reassigns surviving rows
    sub = hash_split(docs.filter(F.col("doc_id") < 3), "doc_id",
                     {"train": 0.7, "val": 0.3}).toPandas()
    for _, r in sub.iterrows():
        assert ma[r["doc_id"]] == r["split"]
    # subsample mode: rows beyond the total fraction get NULL
    keep = hash_split(docs, "doc_id", {"train": 0.5}).toPandas()
    assert keep["split"].isna().sum() > 0 or len(keep) < 8


def test_stratified_take(spark, docs):
    from xgboost_spark.operators.sampling import stratified_take
    out = stratified_take(docs, "text", "doc_id", 1).toPandas()
    # one row per distinct text, deterministic winner
    again = stratified_take(docs, "text", "doc_id", 1).toPandas()
    assert sorted(out["doc_id"]) == sorted(again["doc_id"])
    assert len(out) == 5        # 6 docs, one exact dup text
    # plan uses WindowGroupLimit (map-side partial top-n, no full sort)
    plan = stratified_take(docs, "text", "doc_id", 1) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pack_sequences(spark):
    from xgboost_spark.operators.sampling import pack_sequences
    rows = [(i, 100) for i in range(10)]          # 10 docs x 100 tokens
    df = spark.createDataFrame(rows, "doc_id long, tok long")
    out = pack_sequences(df, "doc_id", "tok", budget=250).toPandas()
    got = dict(zip(out["doc_id"], out["pack_id"]))
    # starts: 0,100,200 -> pack 0; 300,400 -> 1; ...; 900 -> 3
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 2,
                   8: 3, 9: 3}


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 5), (2, 5), (10, 11), (11, 12), (12, 13), (20, 21)],
        "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[5] == 1          # star collapses
    assert comp[10] == comp[11] == comp[12] == comp[13] == 10   # chain
    assert comp[20] == comp[21] == 20
    assert comp[1] != comp[10] != comp[20]


def test_connected_components_long_path(spark):
    """Adversarial 1000-node path graph: min-label propagation would
    need ~1000 rounds; large-star/small-star must converge inside the
    default iteration cap (O(log^2 n)) with exact min labels."""
    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")
    out = dedup.connected_components(pairs).collect()
    assert len(out) == n + 1
    assert all(r["component"] == 0 for r in out)


def test_connected_components_two_long_paths(spark):
    """Two disjoint chains with interleaved ids keep distinct labels."""
    a = [(2 * i, 2 * i + 2) for i in range(200)]        # evens: 0..400
    b = [(2 * i + 1, 2 * i + 3) for i in range(200)]    # odds: 1..401
    pairs = spark.createDataFrame(a + b, "id_a long, id_b long")
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert all(comp[i] == (0 if i % 2 == 0 else 1) for i in comp)


def test_minhash_dedup_transitive_star(spark):
    """Star A~hub, B~hub with A!~B: one-level keeps {A, B}; transitive
    collapses the whole component to one representative."""
    words = [f"w{i}" for i in range(30)]
    hub = " ".join(words)
    d1 = " ".join(["x0", "x1", "x2", "x3", "x4"] + words[5:])    # head changed
    d2 = " ".join(words[:25] + ["z0", "z1", "z2", "z3", "z4"])   # tail changed
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (5, hub)], "doc_id long, text string")
    kw = dict(n_hashes=16, bands=8, shingle_n=5, threshold=0.6)
    one_level = {r["doc_id"] for r in dedup.minhash_dedup(docs, **kw).collect()}
    assert one_level == {1, 2}           # hub dropped, leaves both kept
    trans = {r["doc_id"] for r in
             dedup.minhash_dedup(docs, transitive=True, **kw).collect()}
    assert trans == {1}                  # one representative per component


def test_simhash_near_pairs(spark, docs):
    sig = dedup.simhash(docs).toPandas()
    assert sig["simhash"].nunique() >= 4
    pairs = dedup.simhash_near_pairs(docs, max_hamming=10).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].to_numpy()))
    assert (0, 4) in got


def test_embedding_near_pairs_and_topk(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(size=(20, 8))
    base[7] = base[3] + rng.normal(0, 0.01, 8)     # planted near-dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = dedup.embedding_near_pairs(df, threshold=0.95, brute_force=True).toPandas()
    assert (3, 7) in set(map(tuple, brute[["id_a", "id_b"]].to_numpy()))
    lsh = dedup.embedding_near_pairs(df, threshold=0.95, n_planes=6).toPandas()
    assert (3, 7) in set(map(tuple, lsh[["id_a", "id_b"]].to_numpy()))

    q = df.filter(F.col("vec_id") < 3)
    topk = similarity.cosine_topk(df, q, k=5).toPandas()
    # verify against numpy
    nrm = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = nrm @ nrm.T
    for qid in range(3):
        s = sims[qid].copy()
        s[qid] = -np.inf
        expect = np.argsort(-s, kind="stable")[:5]
        got = topk[topk["query_id"] == qid].sort_values("rank")["nbr_id"].to_numpy()
        # ties broken by id in spark; compare cosine values instead of ids
        np.testing.assert_allclose(
            np.sort(s[expect]), np.sort(sims[qid][got]), rtol=1e-9)


def test_lsh_and_ivf_topk_recall(spark):
    rng = np.random.default_rng(1)
    X = rng.normal(size=(200, 16))
    rows = [(i, [float(v) for v in X[i]]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5)
    brute = similarity.cosine_topk(df, q, k=5).toPandas()
    lsh = similarity.cosine_topk_lsh(df, q, k=5, n_planes=9, bands=3).toPandas()
    ivf = similarity.cosine_topk_ivf(df, q, k=5, n_centroids=8, n_probe=4).toPandas()
    # the distributed probe-assignment path must return the SAME result
    ivf_d = similarity.cosine_topk_ivf(df, q, k=5, n_centroids=8, n_probe=4,
                                       broadcast_queries=False).toPandas()
    key = ["query_id", "nbr_id", "rank"]
    assert (ivf.sort_values(key).reset_index(drop=True)[key]
            .equals(ivf_d.sort_values(key).reset_index(drop=True)[key]))
    for approx, min_recall in ((lsh, 0.3), (ivf, 0.5)):
        rec = []
        for qid in range(5):
            t = set(brute[brute.query_id == qid]["nbr_id"])
            a = set(approx[approx.query_id == qid]["nbr_id"])
            rec.append(len(t & a) / max(len(t), 1))
        assert np.mean(rec) >= min_recall


def test_textstats(spark, docs):
    out = textstats.text_quality(docs).toPandas()
    assert (out["n_words"] > 5).all()
    assert out["quality_score"].between(0, 1).all()
    tc = textstats.token_count(docs).toPandas()
    expect = docs.toPandas()["text"].str.split().str.len()
    assert (tc["n_tokens"] == expect).all()
    lid = textstats.language_id(docs).toPandas()
    assert (lid["lang_pred"].isin(["en", "unknown"])).all()
    assert (lid[lid.doc_id == 0]["lang_pred"] == "en").all()
    bpe = textstats.bpe_ish_token_count(docs).toPandas()
    assert (bpe["n_bpe_tokens"] >= tc["n_tokens"]).all()
    fp = textstats.char_ngram_fingerprint(docs).toPandas()
    f0 = fp[fp.id == 0]["fingerprint"].iloc[0]
    f4 = fp[fp.id == 4]["fingerprint"].iloc[0]
    assert list(f0) == list(f4)  # identical docs -> identical fingerprint


def test_multimodal_plumbing(spark):
    rows = [(1, bytearray(b"\x00\x01" * 50)), (2, bytearray(b"\x7f\x3a" * 80)), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    df = multimodal.attach_media_meta(df, "content", "png")
    feats = multimodal.image_features(df, out_dim=8).toPandas()
    assert feats["features"].map(len).eq(8).all()
    # deterministic: same content -> same features
    f2 = multimodal.image_features(df, out_dim=8).toPandas()
    assert list(feats["features"].iloc[0]) == list(f2["features"].iloc[0])
    frames = multimodal.frame_sample(df.filter(F.col("content").isNotNull()),
                                     every_n=20, max_frames=3).toPandas()
    assert frames.groupby("media_id").size().le(3).all()


def test_asof_join(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (1, 5, "d")],
        "uid long, t long, payload string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 18, 200.0), (2, 1, 300.0)],
        "uid long, t long, price double")
    lts = left.withColumn("t", F.to_timestamp(F.from_unixtime("t")))
    rts = right.withColumn("t", F.to_timestamp(F.from_unixtime("t")))
    out = relational.asof_join(lts, rts, on="t", by="uid").toPandas()
    got = {(r["uid"], r["payload"]): r["price"] for _, r in out.iterrows()}
    assert got[(1, "a")] == 100.0
    assert got[(1, "b")] == 200.0
    assert got[(2, "c")] == 300.0
    assert np.isnan(got[(1, "d")])
    # forward direction: earliest right with right.t >= left.t
    fwd = relational.asof_join(lts, rts, on="t", by="uid",
                               direction="forward").toPandas()
    gf = {(r["uid"], r["payload"]): r["price"] for _, r in fwd.iterrows()}
    assert gf[(1, "d")] == 100.0       # 5 -> 8
    assert gf[(1, "a")] == 200.0       # 10 -> 18
    assert np.isnan(gf[(1, "b")])      # nothing after 20
    assert np.isnan(gf[(2, "c")])      # nothing after 15 for uid 2
    # forward tolerance bounds the wait ahead
    fwd_tol = relational.asof_join(lts, rts, on="t", by="uid",
                                   direction="forward",
                                   tolerance_seconds=3).toPandas()
    gt = {(r["uid"], r["payload"]): r["price"] for _, r in fwd_tol.iterrows()}
    assert gt[(1, "d")] == 100.0       # gap 3 <= 3
    assert np.isnan(gt[(1, "a")])      # gap 8 > 3


def test_range_join_and_sessionize(spark, sf_dir):
    from xgboost_spark.sources.tables import load_table
    ev = load_table(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 100.0, "mid"), (100.0, 1e9, "high")],
        "lo double, hi double, bucket string")
    j1 = relational.range_join(ev, ranges, "value").count()
    j2 = relational.range_join(ev, ranges, "value", bucket_width=10.0).count()
    assert j1 == j2
    s = relational.sessionize(ev, gap_minutes=30)
    pdf = s.groupBy("user_id").agg(F.max("session_id").alias("ns")).toPandas()
    assert (pdf["ns"] >= 1).all()


def test_topk_per_group(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = relational.topk_per_group(orders, ["o_custkey"], "o_totalprice", 3,
                                    tie_col="o_orderkey").toPandas()
    assert out.groupby("o_custkey").size().le(3).all()


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(0, "a b a b a b"),          # 2-grams: ab ba ab ba ab -> top=3/5, dup=5/5
         (1, "u v w x y z"),          # all 5 bigrams unique
         (2, "solo")],                # < 2 words: no grams, omitted
        "doc_id long, text string")
    out = {r["id"]: r for r in textstats.repetition_stats(df, n=2).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_grams"] == 5
    assert abs(out[0]["top_gram_frac"] - 3 / 5) < 1e-9
    assert abs(out[0]["dup_gram_frac"] - 1.0) < 1e-9
    assert out[1]["n_grams"] == 5
    assert abs(out[1]["top_gram_frac"] - 1 / 5) < 1e-9
    assert out[1]["dup_gram_frac"] == 0.0


def test_ngram_contamination(spark, docs):
    # benchmark = doc 0's text; corpus includes its exact dup (doc 4)
    bench = docs.filter(F.col("doc_id") == 0)
    corpus = docs.filter(F.col("doc_id") != 0)
    out = {r["id"]: r for r in
           dedup.ngram_contamination(corpus, bench, n=3).collect()}
    assert abs(out[4]["contamination"] - 1.0) < 1e-9      # exact dup: fully contaminated
    assert out[1]["n_overlap"] == 0                        # unrelated doc: clean
    assert all(r["n_shingles"] > 0 for r in out.values())


def test_word_shingles_short_doc_guard(spark):
    df = spark.createDataFrame([(0, "one two"), (1, "a b c d")],
                               "doc_id long, text string")
    sh = dedup.word_shingles(df, n=3).collect()
    ids = {r["id"] for r in sh}
    assert ids == {1}                       # 2-word doc yields no 3-grams
    assert {r["shingle"] for r in sh} == {"a b c", "b c d"}


def test_asof_join_global_no_by(spark):
    # by=None exercises the range-partitioned global as-of path
    left = spark.createDataFrame(
        [(i, f"L{i}") for i in range(0, 100, 7)], "t long, payload string")
    right = spark.createDataFrame(
        [(i, float(i)) for i in range(0, 100, 10)], "t long, price double")
    out = relational.asof_join(left, right, on="t").toPandas()
    for _, r in out.iterrows():
        assert r["price"] == (r["t"] // 10) * 10.0       # latest right <= t
    fwd = relational.asof_join(left, right, on="t", direction="forward").toPandas()
    for _, r in fwd.iterrows():
        expect = -((-r["t"]) // 10) * 10.0               # earliest right >= t
        if expect <= 90:
            assert fwd is not None and r["price"] == expect
        else:
            assert np.isnan(r["price"])


def test_asof_join_null_right_column_row_integrity(spark):
    # a NULL in one right column must NOT be backfilled from an OLDER row
    left = spark.createDataFrame([(1, 30, "x")], "uid long, t long, p string")
    right = spark.createDataFrame(
        [(1, 10, 111.0, "old"), (1, 20, None, "new")],
        "uid long, t long, price double, tag string")
    out = relational.asof_join(left, right, on="t", by="uid").collect()[0]
    assert out["tag"] == "new" and out["price"] is None


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(0, "mail me at a.b@x.co or call +1 (555) 010-7788, host 10.0.0.7"),
         (1, "nothing sensitive here")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    r0 = out[0]
    assert (r0["n_email"], r0["n_phone"], r0["n_ipv4"]) == (1, 1, 1)
    red = r0["text_redacted"]
    assert "[EMAIL]" in red and "[PHONE]" in red and "[IPV4]" in red
    assert "a.b@x.co" not in red and "555" not in red and "10.0.0.7" not in red
    r1 = out[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"]) == (0, 0, 0)
    assert r1["text_redacted"] == "nothing sensitive here"


def _wav_bytes(x: np.ndarray, rate: int = 8000) -> bytes:
    import struct
    pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def test_real_image_codecs(spark):
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (12, 9, 3), dtype=np.uint8)
    # PPM round-trip is exact
    assert (multimodal.decode_ppm(multimodal.encode_ppm(img)) == img).all()
    # BMP: construct a bottom-up 24-bit BMP by hand and decode it
    import struct
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = b""
    for r in range(h - 1, -1, -1):
        bgr = img[r, :, ::-1].tobytes()
        rows += bgr + b"\x00" * (stride - len(bgr))
    bmp = (b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
           + rows)
    assert (multimodal.decode_bmp(bmp) == img).all()

    # the Spark path extracts REAL pixel features: a black PPM gives an
    # all-zero vector, a white one all-ones
    black = multimodal.encode_ppm(np.zeros((6, 6, 3), np.uint8))
    white = multimodal.encode_ppm(np.full((6, 6, 3), 255, np.uint8))
    df = spark.createDataFrame([(0, bytearray(black)), (1, bytearray(white))],
                               "media_id long, content binary")
    out = {r["media_id"]: r["features"]
           for r in multimodal.image_features(df, out_dim=4).collect()}
    assert out[0] == [0.0, 0.0, 0.0, 0.0]
    assert all(abs(v - 1.0) < 1e-6 for v in out[1])


def test_real_audio_codec(spark):
    t = np.arange(8000) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    silence = np.zeros(8000)
    x, rate = multimodal.decode_wav(_wav_bytes(sine))
    assert rate == 8000 and abs(len(x) - 8000) <= 1
    assert abs(float(np.sqrt(np.mean(x ** 2))) - 0.5 / np.sqrt(2)) < 1e-3
    df = spark.createDataFrame(
        [(0, bytearray(_wav_bytes(sine))), (1, bytearray(_wav_bytes(silence)))],
        "media_id long, content binary")
    out = {r["media_id"]: r["features"]
           for r in multimodal.audio_features(df, out_dim=4).collect()}
    assert out[0][0] > 0.3            # sine RMS ~ 0.354
    assert out[1][0] == 0.0           # silence has zero energy
    assert out[0][1] > 0.0            # sine crosses zero


def test_raw_video_frame_sampling(spark):
    rng = np.random.default_rng(9)
    frames = rng.integers(0, 256, (20, 4, 5, 3), dtype=np.uint8)
    vid = multimodal.encode_raw_video(frames)
    df = spark.createDataFrame([(7, bytearray(vid))], "media_id long, content binary")
    out = multimodal.frame_sample(df, every_n=10, max_frames=8).collect()
    assert [r["frame_idx"] for r in out] == [0, 1]       # frames 0 and 10
    got0 = multimodal.decode_ppm(bytes(out[0]["frame_content"]))
    assert (got0 == frames[0]).all()                     # real pixels round-trip
    got1 = multimodal.decode_ppm(bytes(out[1]["frame_content"]))
    assert (got1 == frames[10]).all()
    # sampled frames feed straight into image_features
    fdf = spark.createDataFrame(
        [(int(r["frame_idx"]), bytearray(r["frame_content"])) for r in out],
        "frame_idx long, content binary")
    feats = multimodal.image_features(fdf, out_dim=4).collect()
    assert all(len(r["features"]) == 4 for r in feats)


def test_shuffle_shards_deterministic(spark, docs):
    from xgboost_spark.operators import sampling
    a = sampling.shuffle_shards(docs, "doc_id", 4).select("doc_id", "shard", "sort_key")
    b = sampling.shuffle_shards(docs.repartition(7), "doc_id", 4) \
        .select("doc_id", "shard", "sort_key")
    pa = a.toPandas().sort_values("doc_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert pa.equals(pb)                       # partitioning-independent
    assert pa["shard"].between(0, 3).all()
    with pytest.raises(ValueError):
        sampling.shuffle_shards(docs, "doc_id", 0)


def test_chunk_documents(spark):
    text = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame([(1, text), (2, "solo"), (3, "")],
                               "doc_id long, text string")
    out = textstats.chunk_documents(df, chunk_words=10, overlap=4).toPandas()
    c1 = out[out.id == 1].sort_values("chunk_id")
    # 25 words, window 10, stride 6 -> chunks start at 0,6,12,18 (covers 25)
    assert list(c1.chunk_id) == [0, 1, 2, 3]
    assert list(c1.chunk_n_words) == [10, 10, 10, 7]
    assert c1.iloc[0].chunk_text == " ".join(f"w{i}" for i in range(10))
    assert c1.iloc[3].chunk_text == " ".join(f"w{i}" for i in range(18, 25))
    # every word appears in at least one chunk; overlap duplicates words
    joined = " ".join(c1.chunk_text)
    assert all(f"w{i}" in joined.split() for i in range(25))
    # short / empty docs -> exactly one chunk
    assert len(out[out.id == 2]) == 1
    assert out[out.id == 2].iloc[0].chunk_text == "solo"
    assert len(out[out.id == 3]) == 1


def test_tfidf_top_terms(spark, docs):
    out = textstats.tfidf_top_terms(docs, k=2).toPandas()
    # every doc gets exactly k rows (docs have >= 2 distinct terms)
    assert (out.groupby("id").size() == 2).all()
    assert (out.groupby("id")["rank"].max() == 2).all()
    # 'the' appears twice in doc 0 but is common (docs 0 and 4 dup);
    # a doc-unique term must outrank any term shared by all docs
    d1 = out[out.id == 1]
    assert set(d1.term) <= {"completely", "different", "document", "about",
                            "spark", "query", "engines", "and", "planning", "a"}
    assert "and" not in set(d1.term)  # 'and' is in several docs -> low idf
    # scores are positive and ranked descending
    for _, g in out.groupby("id"):
        g = g.sort_values("rank")
        assert g.score.iloc[0] >= g.score.iloc[1] > 0


def test_sample_by_rates(spark, docs):
    from xgboost_spark.operators import sampling
    d = docs.withColumn("src", (F.col("doc_id") % 2).cast("string"))
    out = sampling.sample_by_rates(d, {"0": 1.0, "1": 0.0},
                                   key_col="doc_id", strat_col="src")
    kept = {r.doc_id for r in out.collect()}
    assert kept == {r.doc_id for r in d.filter("src = '0'").collect()}
    # key-stable: a grown corpus keeps exactly the previously-kept rows
    half = sampling.sample_by_rates(d.filter("doc_id < 3"), {"0": 1.0, "1": 0.0},
                                    key_col="doc_id", strat_col="src")
    assert {r.doc_id for r in half.collect()} == {k for k in kept if k < 3}
    with pytest.raises(ValueError):
        sampling.sample_by_rates(d, {"0": 1.5}, key_col="doc_id", strat_col="src")


def test_replicate_by_rates(spark, docs):
    from xgboost_spark.operators import sampling
    d = docs.withColumn("src", (F.col("doc_id") % 2).cast("string"))
    out = sampling.replicate_by_rates(d, {"0": 2.0, "1": 0.5},
                                      key_col="doc_id", strat_col="src").toPandas()
    # integral rate: exactly 2 copies of every src-0 row, copy ids 0/1
    z = out[out.src == "0"]
    assert (z.groupby("doc_id").size() == 2).all()
    assert set(z.copy_idx if "copy_idx" in z else z["copy"]) == {0, 1}
    # fractional rate: src-1 rows appear 0 or 1 times, per the same hash
    # threshold sample_by_rates uses -> the two operators compose
    kept = sampling.sample_by_rates(d.filter("src = '1'"), {"1": 0.5},
                                    key_col="doc_id", strat_col="src")
    assert set(out[out.src == "1"].doc_id) == {r.doc_id for r in kept.collect()}


@pytest.mark.parametrize("cw,ov", [(5, 0), (5, 2), (8, 7), (16, 4)])
def test_chunk_documents_invariants(spark, cw, ov):
    import math
    lengths = [1, 2, cw - 1, cw, cw + 1, 3 * cw, 3 * cw + 1, 50]
    rows = [(n, " ".join(f"w{i}" for i in range(n))) for n in lengths]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.chunk_documents(df, chunk_words=cw, overlap=ov).toPandas()
    step = cw - ov
    for n in lengths:
        c = out[out.id == n].sort_values("chunk_id")
        expected = 1 + max(0, math.ceil((n - cw) / step))
        assert len(c) == expected, (n, cw, ov)
        words = [t.split() for t in c.chunk_text]
        assert all(len(w) <= cw for w in words)
        # coverage: every word index appears; adjacent chunks overlap ov
        seen = set(w for ws in words for w in ws)
        assert seen == {f"w{i}" for i in range(n)}
        for a, b in zip(words, words[1:]):
            assert b[0] == a[step] if len(a) > step else True


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    plain = orders.join(cust, "o_custkey").count()
    salted = relational.salted_join(orders, cust, "o_custkey",
                                    salt_factor=4).count()
    assert plain == salted
    # left join keeps unmatched rows exactly once
    some = cust.filter("o_custkey % 3 = 0")
    pl = orders.join(some, "o_custkey", "left").count()
    sl = relational.salted_join(orders, some, "o_custkey",
                                salt_factor=4, how="left").count()
    assert pl == sl


def test_zorder_key_interleave(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (255.0, 255.0), (255.0, 0.0), (0.0, 255.0), (3.0, 5.0)],
        "x double, y double")
    out = (relational.zorder_key(df, ["x", "y"], bits=8,
                                 ranges={"x": (0.0, 255.0), "y": (0.0, 255.0)})
           .toPandas())

    def morton(a, b):
        z = 0
        for bit in range(8):
            z |= ((a >> bit) & 1) << (2 * bit)
            z |= ((b >> bit) & 1) << (2 * bit + 1)
        return z

    exp = {(0, 0): morton(0, 0), (255, 255): morton(255, 255),
           (255, 0): morton(255, 0), (0, 255): morton(0, 255),
           (3, 5): morton(3, 5)}
    for _, r in out.iterrows():
        assert r.zkey == exp[(int(r.x), int(r.y))]
    with pytest.raises(ValueError):
        relational.zorder_key(df, ["x"], bits=8)
    with pytest.raises(ValueError):
        relational.zorder_key(df, ["x", "y"], bits=40)


def test_png_codec_through_spark_pipeline(spark):
    import numpy as np
    from xgboost_spark.operators.multimodal import (decode_png, encode_png,
                                                    image_features)
    rng = np.random.default_rng(9)
    imgs = [rng.integers(0, 256, (24, 32, 3), dtype=np.uint8) for _ in range(4)]
    pal = np.zeros((10, 10), dtype=np.uint8)      # grayscale variant
    rows = ([(i, bytearray(encode_png(im))) for i, im in enumerate(imgs)]
            + [(99, bytearray(encode_png(pal)))])
    df = spark.createDataFrame(rows, "id long, content binary")
    out = image_features(df, strict=True).toPandas()   # strict: no stub path
    assert len(out) == 5
    feats = np.stack(out.features.to_numpy())
    assert np.isfinite(feats).all()
    # real pixels in -> features vary across images, constant for zeros
    z = feats[out.id.to_numpy() == 99][0]
    assert np.allclose(z, z[0])
    assert feats[:4].std() > 0
    # RGBA and palette-type coverage at the codec level
    rgba = rng.integers(0, 256, (7, 5, 4), dtype=np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba).all()


def test_aiff_codec(spark):
    import struct
    import math
    import numpy as np
    from xgboost_spark.operators.multimodal import audio_features, decode_aiff

    def encode_aiff(x, rate):
        pcm = (np.clip(x, -1, 1) * 32767).astype(">i2").tobytes()
        exp = int(math.floor(math.log2(rate)))
        mant = int(rate / 2.0 ** (exp - 63))
        comm = (struct.pack(">hIh", 1, len(x), 16)
                + struct.pack(">HQ", exp + 16383, mant))
        ssnd = struct.pack(">II", 0, 0) + pcm
        body = (b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
                + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
        return b"FORM" + struct.pack(">I", len(body)) + body

    t = np.linspace(0, 1, 4000, dtype=np.float32)
    x = 0.5 * np.sin(2 * np.pi * 220 * t)
    y, r = decode_aiff(encode_aiff(x, 8000))
    assert r == 8000 and np.abs(y - x).max() < 1e-3
    df = spark.createDataFrame([(1, bytearray(encode_aiff(x, 8000)))],
                               "id long, content binary")
    out = audio_features(df, strict=True).toPandas()
    v = np.array(out.features.iloc[0])
    assert v[0] > 0.3                  # RMS of a 0.5-amplitude sine ~ 0.35


def test_gif_codec_through_spark_pipeline(spark):
    import numpy as np
    from xgboost_spark.operators.multimodal import (decode_gif, encode_gif,
                                                    image_features)
    rng = np.random.default_rng(21)
    idx = rng.integers(0, 256, (20, 30), dtype=np.uint8)
    out3 = decode_gif(encode_gif(idx))
    assert out3.shape == (20, 30, 3) and (out3[:, :, 0] == idx).all()
    # LZW table growth + KwKwK path: repetitive data compresses for real
    rep = np.tile(np.arange(8, dtype=np.uint8).repeat(8), (64, 2))
    g = encode_gif(rep)
    assert len(g) < rep.size // 4
    assert (decode_gif(g)[:, :, 0] == rep).all()
    df = spark.createDataFrame([(1, bytearray(encode_gif(idx)))],
                               "id long, content binary")
    feats = image_features(df, strict=True).toPandas().features.iloc[0]
    assert np.isfinite(np.array(feats)).all()


def test_mulaw_wav_decode(spark):
    import struct
    import numpy as np
    from xgboost_spark.operators.multimodal import decode_wav

    def mulaw_encode(x):
        x = np.clip(x, -1, 1) * 32124
        sign = (x < 0).astype(np.uint8) * 0x80
        x = np.abs(x).astype(np.int32) + 0x84
        exp = (np.floor(np.log2(x)) - 7).clip(0, 7).astype(np.int32)
        mant = ((x >> (exp + 3)) & 0x0F).astype(np.uint8)
        return (~(sign | (exp.astype(np.uint8) << 4) | mant)).astype(np.uint8)

    t = np.linspace(0, 1, 2000)
    x = 0.5 * np.sin(2 * np.pi * 110 * t)
    pcm = mulaw_encode(x).tobytes()
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    y, r = decode_wav(wav)
    assert r == 8000 and np.abs(y - x).max() < 0.02


def test_jpeg_codec(spark):
    import numpy as np
    from xgboost_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from xgboost_spark.operators.multimodal import image_features

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 99 if mse == 0 else 10 * np.log10(255 ** 2 / mse)

    yy, xx = np.mgrid[0:48, 0:64]
    img = np.stack([np.clip(yy * 3, 0, 255), np.clip(xx * 2, 0, 255),
                    np.clip(xx + yy, 0, 255)], axis=2).astype(np.uint8)
    # both chroma modes reconstruct a smooth image faithfully
    assert psnr(img, decode_jpeg(encode_jpeg(img, 90, subsample=False))) > 40
    assert psnr(img, decode_jpeg(encode_jpeg(img, 85, subsample=True))) > 38
    # restart markers decode to the IDENTICAL pixels as the plain stream
    a = decode_jpeg(encode_jpeg(img, 90, subsample=True))
    b = decode_jpeg(encode_jpeg(img, 90, subsample=True, restart_interval=2))
    assert (a == b).all()
    # grayscale + odd sizes keep exact dimensions
    g = np.clip(yy * 5, 0, 255).astype(np.uint8)[:41, :33]
    og = decode_jpeg(encode_jpeg(g, 90))
    assert og.shape == (41, 33, 3)
    assert psnr(np.stack([g] * 3, 2), og) > 40
    # lossy but compressed: smooth image well under raw size
    assert len(encode_jpeg(img, 85)) < img.size // 4
    # end-to-end through the Spark feature pipeline, strict mode
    df = spark.createDataFrame([(1, bytearray(encode_jpeg(img, 85)))],
                               "id long, content binary")
    feats = image_features(df, strict=True).toPandas().features.iloc[0]
    assert np.isfinite(np.array(feats)).all() and np.array(feats).std() > 0


def test_progressive_jpeg_codec(spark):
    """Progressive (SOF2) decode must reconstruct the IDENTICAL pixels
    as baseline decode of the same quantized coefficients — the two
    entropy layouts carry the same data, so any refinement-scan bug
    (EOB runs, ZRL over zero-history runs, correction bits) shows up as
    a pixel diff."""
    import numpy as np
    from xgboost_spark.operators.jpeg import (decode_jpeg, encode_jpeg,
                                              encode_jpeg_progressive)
    from xgboost_spark.operators.multimodal import image_features

    yy, xx = np.mgrid[0:41, 0:57]
    img = np.stack([(xx * 4) % 256, (yy * 6) % 256, ((xx + yy) * 3) % 256],
                   axis=2).astype(np.uint8)
    img[10:20, 10:30] = [255, 0, 0]
    for sub in (True, False, "422"):
        base = decode_jpeg(encode_jpeg(img, 90, subsample=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, 90, subsample=sub))
        assert (base == prog).all(), f"subsample={sub}"
    # noise at low quality scatters sparse +-1 coefficients through the
    # band: exercises ZRL-in-refinement and per-block EOB paths
    noise = np.random.default_rng(5).integers(0, 256, (24, 40, 3)).astype(np.uint8)
    bn = decode_jpeg(encode_jpeg(noise, 50, subsample=True))
    pn = decode_jpeg(encode_jpeg_progressive(noise, 50, subsample=True))
    assert (bn == pn).all()
    # grayscale + odd size with partial MCUs and a non-interleaved
    # block grid smaller than the padded MCU grid (w=17, 4:2:0)
    g = ((yy * xx) % 256).astype(np.uint8)[:17, :17]
    assert (decode_jpeg(encode_jpeg(g, 85))
            == decode_jpeg(encode_jpeg_progressive(g, 85))).all()
    c17 = img[:17, :17]
    assert (decode_jpeg(encode_jpeg(c17, 75, subsample=True))
            == decode_jpeg(encode_jpeg_progressive(c17, 75, subsample=True))).all()
    # end-to-end through the Spark feature pipeline in strict mode
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg_progressive(img, 85)))],
        "id long, content binary")
    feats = image_features(df, strict=True).toPandas().features.iloc[0]
    assert np.isfinite(np.array(feats)).all() and np.array(feats).std() > 0


def test_avi_mjpeg_through_frame_sample(spark):
    import numpy as np
    from xgboost_spark.operators.multimodal import (decode_avi_mjpeg,
                                                    encode_avi_mjpeg,
                                                    frame_sample,
                                                    image_features)
    yy, xx = np.mgrid[0:16, 0:16]
    frames = np.stack([
        np.stack([np.clip(yy * 12 + k * 9, 0, 255), np.clip(xx * 9, 0, 255),
                  np.full_like(yy, 40 + 25 * k)], axis=2).astype(np.uint8)
        for k in range(6)])
    avi = encode_avi_mjpeg(frames, quality=90)
    assert len(decode_avi_mjpeg(avi)) == 6
    df = spark.createDataFrame([(7, bytearray(avi))], "media_id long, content binary")
    fr = frame_sample(df, every_n=2, max_frames=3)
    rows = fr.select("frame_idx", "frame_content").collect()
    assert len(rows) == 3                       # frames 0, 2, 4
    feats = image_features(
        fr.drop("content").withColumnRenamed("frame_content", "content"),
        strict=True).toPandas()
    assert len(feats) == 3
    assert np.isfinite(np.stack(feats.features.to_numpy())).all()


def test_codec_edge_cases(spark):
    import numpy as np
    import pytest as pt
    from xgboost_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from xgboost_spark.operators.multimodal import (decode_gif, decode_png,
                                                    encode_gif)
    yy, xx = np.mgrid[0:24, 0:40]
    img = np.stack([np.clip(yy * 8, 0, 255), np.clip(xx * 5, 0, 255),
                    np.clip(xx + yy, 0, 255)], axis=2).astype(np.uint8)

    # 4:2:2 chroma
    out = decode_jpeg(encode_jpeg(img, quality=90, subsample="422"))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 3

    # interlaced GIF rows come back in display order
    gi = np.clip(yy * 9 + xx, 0, 255).astype(np.uint8)
    assert (decode_gif(encode_gif(gi, interlace=True))[:, :, 0] == gi).all()

    # unsupported variants raise cleanly, not garbage (progressive is
    # supported since round 4 — lossless SOF3 is the honest non-goal)
    lossless = bytearray(encode_jpeg(img))
    sof = lossless.find(b"\xFF\xC0")
    lossless[sof + 1] = 0xC3                    # pretend lossless
    with pt.raises(NotImplementedError):
        decode_jpeg(bytes(lossless))
    with pt.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\nnot-really")
    with pt.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)


def test_jpeg_422_odd_sizes(spark):
    import numpy as np
    from xgboost_spark.operators.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.default_rng(0)
    for shp in [(7, 9), (15, 17), (8, 11), (1, 3)]:
        img = rng.integers(0, 256, (*shp, 3), dtype=np.uint8)
        assert decode_jpeg(encode_jpeg(img, 90, subsample="422")).shape == img.shape
    flat = np.full((13, 21, 3), 90, np.uint8)
    o = decode_jpeg(encode_jpeg(flat, 90, subsample="422"))
    assert np.abs(o.astype(int) - 90).max() <= 4


# ---------------------------------------------------------------------------
# round-3 operators
# ---------------------------------------------------------------------------

def test_segment_dedup(spark, docs):
    out = dedup.segment_dedup(docs, seg_words=3).toPandas().set_index("id")
    # every document accounts for all of its segments
    assert (out["n_owned"] <= out["n_segs"]).all()
    # doc 4 is an exact copy of doc 0 -> owns none of its segments
    assert out.loc[4, "n_owned"] == 0
    assert out.loc[4, "dup_frac"] == 1.0
    # doc 0 (the first occurrence) owns all of its segments
    assert out.loc[0, "n_owned"] == out.loc[0, "n_segs"]
    # global ownership is a partition: each distinct segment owned once
    segs = (docs.select(F.posexplode(F.transform(
        F.sequence(F.lit(0), F.ceil(F.size(F.split(F.trim(F.lower("text")), r"\s+")) / 3.0).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.split(F.trim(F.lower("text")), r"\s+"), i * 3 + 1, 3), " ")))
        .alias("i", "seg")).select("seg").distinct().count())
    assert int(out["n_owned"].sum()) == segs


def test_gopher_rules(spark, docs):
    out = textstats.gopher_rules(docs, min_words=5, min_stop_hits=1).toPandas()
    rules = ["r_word_count", "r_mean_word_len", "r_hash_ratio",
             "r_ellipsis_ratio", "r_alpha_words", "r_stop_hits"]
    # keep == conjunction of all rules
    assert (out["keep"] == out[rules].all(axis=1)).all()
    # these short english sentences pass the relaxed gate
    assert out["keep"].any()
    # a degenerate doc fails
    bad = spark.createDataFrame([(99, "# # # # ...")], "doc_id long, text string")
    b = textstats.gopher_rules(bad, min_words=5, min_stop_hits=1).toPandas()
    assert not b["keep"].iloc[0]


def test_reservoir_per_group(spark, sf_dir):
    from xgboost_spark.operators.sampling import reservoir_per_group
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = reservoir_per_group(li, ["l_returnflag"], ["l_orderkey", "l_linenumber"], k=7)
    pdf = out.groupBy("l_returnflag").count().toPandas()
    sizes = li.groupBy("l_returnflag").count().toPandas().set_index("l_returnflag")["count"]
    for _, r in pdf.iterrows():
        assert r["count"] == min(7, sizes[r["l_returnflag"]])
    # deterministic: same call -> same rows
    a = sorted(map(tuple, out.select("l_orderkey", "l_linenumber").collect()))
    b = sorted(map(tuple, reservoir_per_group(
        li, ["l_returnflag"], ["l_orderkey", "l_linenumber"], k=7)
        .select("l_orderkey", "l_linenumber").collect()))
    assert a == b


def test_scalar_quantize(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    out = similarity.scalar_quantize(emb).toPandas()
    codes = np.stack(out["codes"].to_numpy())
    assert codes.min() >= 0 and codes.max() <= 255
    # reconstruction error is far below the per-dimension variance
    src = emb.toPandas()
    v = np.stack(src["embedding"].to_numpy()).astype(np.float64)
    assert out["mse"].max() < v.var(axis=0).mean() * 0.01
    # numpy replay of the same formula matches exactly
    mn, mx = v.min(0), v.max(0)
    scale = np.where(mx > mn, mx - mn, 1.0)
    exp = np.clip(np.floor((v - mn) / scale * 255.0 + 0.5), 0, 255)
    exp = np.where(mx > mn, exp, 0.0)
    got = codes[np.argsort(out["id"].to_numpy())]
    exp = exp[np.argsort(src["vec_id"].to_numpy())]
    assert (got == exp).all()


def test_ivf0_recall(spark, sf_dir):
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).toPandas()
    approx = similarity.cosine_topk_ivf(
        emb, q, k=5, n_centroids=8, n_probe=4, iters=0,
        seed_by="id", broadcast_queries=False).toPandas()
    e = set(map(tuple, exact[["query_id", "nbr_id"]].to_numpy()))
    a = set(map(tuple, approx[["query_id", "nbr_id"]].to_numpy()))
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall


@pytest.mark.slow
def test_pq_adc_recall(spark, sf_dir):
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = emb.filter(F.col("vec_id") < 10)
    cents = similarity.pq_train(emb, m=8, k=16)
    assert cents.shape == (8, 16, 8)
    # codes cover the codebook range
    codes = similarity.pq_encode(emb, cents).toPandas()
    c = np.stack(codes["codes"].to_numpy())
    assert c.shape[1] == 8 and c.min() >= 0 and c.max() <= 15
    # ADC with Lloyd-refined codebooks recovers a solid share of the
    # exact L2 top-10 (uniform-random vectors are VQ's worst case —
    # clustered real embeddings do far better)
    pdf = emb.toPandas()
    v = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    e = set()
    for qi in range(10):
        qv = v[ids == qi][0]
        d2 = ((v - qv) ** 2).sum(1)
        d2[ids == qi] = np.inf
        e |= {(qi, int(n)) for n in ids[np.argsort(d2, kind="stable")][:10]}
    cents_r = similarity.pq_train(emb, m=8, k=64, iters=3)
    approx = similarity.pq_topk(emb, q, cents_r, topk=10).toPandas()
    a = set(map(tuple, approx[["query_id", "nbr_id"]].to_numpy()))
    assert len(e & a) / len(e) >= 0.3, len(e & a) / len(e)


def test_semantic_dedup_invariants(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.semantic_dedup(emb, n_clusters=8, threshold=0.5).toPandas()
    assert len(out) == emb.count()          # total function: every id mapped
    assert (out["rep_id"] <= out["id"]).all()  # representative is the min id
    reps = set(out["rep_id"])
    # representatives map to themselves
    m = out.set_index("id")["rep_id"]
    for r in reps:
        assert m[r] == r


@pytest.fixture(scope="module")
def big_emb(spark):
    """Clustered synthetic corpus large enough for a 1024-centroid
    quantizer: 120 well-separated cluster centers x 30 members, dim 16,
    plus 50 exact-duplicate pairs for dedup recall checks."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(120, 16)) * 10.0
    rows = []
    vid = 0
    for c in range(120):
        for _ in range(30):
            v = centers[c] + rng.normal(size=16) * 0.05
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    dup_src = [r for r in rows[:50]]
    for i, (sid, v) in enumerate(dup_src):                  # exact dups
        rows.append((vid + i, list(v)))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf)


def test_ivf_1024_centroids_scale_path(spark, big_emb):
    """>=1024 centroids must run through the broadcast-NumPy
    mapInPandas assignment + probe paths (the Catalyst-expression path
    would need ~16k expression nodes), with analysis staying flat and
    recall intact."""
    q = big_emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk_ivf(
        big_emb, q, k=5, n_centroids=1024, n_probe=24, iters=0,
        seed_by="id", broadcast_queries=False)
    # the scale path shows up as MapInPandas nodes in the analyzed plan
    analyzed = out._jdf.queryExecution().analyzed().toString().lower()
    assert "mapinpandas" in analyzed
    approx = out.toPandas()
    exact = similarity.cosine_topk(big_emb, q, k=5).toPandas()
    e = set(map(tuple, exact[["query_id", "nbr_id"]].to_numpy()))
    a = set(map(tuple, approx[["query_id", "nbr_id"]].to_numpy()))
    assert len(e & a) / len(e) >= 0.8, len(e & a) / len(e)


def test_ivf_scale_path_matches_expr_path(spark, big_emb):
    """The NumPy assignment must agree with the Catalyst-expression
    assignment on well-separated data (same centroids, same ties rule)."""
    small = big_emb.filter(F.col("vec_id") < 600)
    seed_rows = (small.select("embedding",
                              F.md5(F.concat(F.col("vec_id").cast("string"),
                                             F.lit(":ivf"))).alias("h"))
                 .orderBy("h").limit(32).collect())
    cents = np.array([r["embedding"] for r in seed_rows])
    a = similarity._assign_lists(small, cents, "embedding").select("vec_id", "list_id")
    b = similarity._assign_lists_np(small, cents, "embedding").select("vec_id", "list_id")
    pa = a.toPandas().sort_values("vec_id", ignore_index=True)
    pb = b.toPandas().sort_values("vec_id", ignore_index=True)
    assert (pa["list_id"] == pb["list_id"]).all()


def test_pq_large_codebook_scale_path(spark, big_emb):
    """k=256 codebooks (the real 8-bit PQ deployment size) run through
    the NumPy encode + dtab paths end to end."""
    q = big_emb.filter(F.col("vec_id") < 5)
    cents = similarity.pq_train(big_emb, m=4, k=256)
    assert cents.shape == (4, 256, 4)
    codes = similarity.pq_encode(big_emb, cents)
    assert "mapinpandas" in codes._jdf.queryExecution().analyzed().toString().lower()
    c = np.stack(codes.toPandas()["codes"].to_numpy())
    assert c.shape[1] == 4 and c.min() >= 0 and c.max() <= 255
    top = similarity.pq_topk(big_emb, q, cents, topk=5).toPandas()
    assert set(top["query_id"]) == set(range(5))
    assert (top.groupby("query_id").size() == 5).all()


def test_semantic_dedup_bucketed_scale_path(spark, big_emb):
    """1024 clusters + bounded pairwise buckets: every exact-duplicate
    pair must still collapse (identical vectors share cluster AND
    sub-bucket by construction), and the pairwise stage never compares
    more than ~max_pair_bucket^2 rows per bucket."""
    n = big_emb.count()
    out = similarity.semantic_dedup(
        big_emb, n_clusters=1024, threshold=0.999999,
        max_pair_bucket=8).toPandas()
    assert len(out) == n
    m = out.set_index("id")["rep_id"]
    # the 50 appended rows are exact copies of vec_id 0..49
    base = n - 50
    merged = sum(1 for i in range(50) if m[base + i] == m[i])
    assert merged == 50, merged


@pytest.mark.slow
@pytest.mark.filterwarnings("ignore::RuntimeWarning")
def test_semantic_dedup_default_args_bounded(spark):
    """The PUBLIC default must be scale-safe: a skewed corpus whose
    largest cluster exceeds the default max_pair_bucket (4096) must
    engage sign-LSH sub-bucketing with NO explicit argument — i.e. a
    user calling semantic_dedup() at corpus scale never gets the
    O(n^2/c) pair explosion out of the box."""
    import inspect
    default = inspect.signature(
        similarity.semantic_dedup).parameters["max_pair_bucket"].default
    assert default == 4096
    # one heavy cluster: 4500 near-identical dim-4 rows, all of which
    # the n_clusters=1 quantizer puts in a single list, plus 20 exact
    # duplicates of the first 20 ids for recall
    rng = np.random.default_rng(7)
    n = 4500
    base = rng.normal(size=(n, 4)) * 0.05 + np.array([5.0, -3.0, 2.0, 1.0])
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    rows += [(n + i, list(rows[i][1])) for i in range(20)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    df = spark.createDataFrame(pdf)
    out = similarity.semantic_dedup(
        df, n_clusters=1, threshold=0.999999).toPandas()
    assert len(out) == n + 20
    m = out.set_index("id")["rep_id"]
    merged = sum(1 for i in range(20) if m[n + i] == m[i])
    assert merged == 20, merged


def test_bpe_train_and_encode(spark):
    from xgboost_spark.operators import bpe
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new low"),
         (3, "wider wide wider")],
        "doc_id long, text string")
    merges = bpe.bpe_train(docs, n_merges=6)
    # first merges on this classic corpus: (l,o) then (lo,w) — 'low'
    # is the most frequent word (6 occurrences incl. prefixes)
    assert (merges[0][0], merges[0][1], merges[0][2]) == ("l", "o", "lo")
    assert merges[1][2] == "low"
    enc = bpe.bpe_encode_vocab(bpe.word_vocab(docs), merges).toPandas()
    got = {r["word"]: list(r["tokens"]) for _, r in enc.iterrows()}
    assert got["low"] == ["low"]
    assert got["lower"] == ["low", "er"]
    # a merge must NEVER match across symbol boundaries: with learned
    # merges (x,a),(b,y),(a,b), the word 'xaby' is symbols [xa, by] and
    # merge (a,b) must not glue the 'a'-suffix of 'xa' to the
    # 'b'-prefix of 'by' (the sentinel-wrapping contract)
    xy = spark.createDataFrame(
        [(1, " ".join(["xa"] * 10 + ["by"] * 9 + ["ab"] * 8 + ["xaby"]))],
        "doc_id long, text string")
    mx = bpe.bpe_train(xy, n_merges=3)
    assert [(m[0], m[1]) for m in mx] == [("x", "a"), ("b", "y"), ("a", "b")]
    ex = {r["word"]: list(r["tokens"])
          for r in bpe.bpe_encode_vocab(bpe.word_vocab(xy), mx).collect()}
    assert ex["xaby"] == ["xa", "by"], ex["xaby"]
    assert ex["ab"] == ["ab"]
    # greedy left-to-right non-overlap: 'aaa' + (a,a) -> [aa, a]
    aaa = spark.createDataFrame([(1, "aaa aa")], "doc_id long, text string")
    m = bpe.bpe_train(aaa, n_merges=1)
    assert (m[0][0], m[0][1]) == ("a", "a")
    e = bpe.bpe_encode_vocab(bpe.word_vocab(aaa), m).toPandas()
    g = {r["word"]: list(r["tokens"]) for _, r in e.iterrows()}
    assert g["aaa"] == ["aa", "a"] and g["aa"] == ["aa"]
    # token counts ride a broadcast join, one corpus scan
    tc = bpe.bpe_token_counts(docs, merges).toPandas().set_index("id")
    assert tc.loc[1, "n_words"] == 5
    assert tc.loc[1, "n_tokens"] == sum(
        len(got[w]) for w in "low lower lowest low low".split())


def test_bpe_scale_path_matches_expr_path(spark):
    """>EXPR_MERGE_MAX merges must run the mapInPandas vocabulary
    encoder and produce the IDENTICAL tokenization as the chained
    replace() expression path."""
    from xgboost_spark.operators import bpe
    rng = np.random.default_rng(9)
    alphabet = "abcdefghijklmnop"
    words = ["".join(rng.choice(list(alphabet), size=8)) for _ in range(120)]
    text = " ".join(w for w in words for _ in range(rng.integers(1, 4)))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = bpe.bpe_train(docs, n_merges=40)
    assert len(merges) > bpe.EXPR_MERGE_MAX  # enough to force the switch
    vocab = bpe.word_vocab(docs)
    scale = bpe.bpe_encode_vocab(vocab, merges)
    assert "mapinpandas" in scale._jdf.queryExecution().analyzed().toString().lower()
    # the mapInPandas path must agree with a reference python replay of
    # the same greedy sentinel-wrapped replace semantics on every word
    a = {r["word"]: list(r["tokens"]) for r in scale.collect()}
    for w in vocab.toPandas()["word"]:
        seq = " ".join(bpe.S1 + c + bpe.S2 for c in w)
        for ma, mb, mm, *_ in merges:
            seq = seq.replace(bpe.S1 + ma + bpe.S2 + " " + bpe.S1 + mb + bpe.S2,
                              bpe.S1 + mm + bpe.S2)
        assert a[w] == seq.replace(bpe.S1, "").replace(bpe.S2, "").split(" "), w


def test_hll_and_cms_sketches(spark):
    from xgboost_spark.operators import cardsketch as cs
    rows = [(i, f"u{i % 700}") for i in range(5000)]
    df = spark.createDataFrame(rows, "i long, k string")
    # HLL: within the theoretical ~1.04/sqrt(m) band (x4 slack)
    est = cs.hll_estimate(df, "k", p=10).first()
    assert est["m"] == 1024
    assert abs(est["estimate"] - 700) / 700 < 4 * 1.04 / (1024 ** 0.5)
    # mergeability: registers of two disjoint halves max-merge to the
    # full sketch (the property that makes the sketch distributable)
    a = cs.hll_registers(df.filter(F.col("i") < 2500), "k", p=10)
    b = cs.hll_registers(df.filter(F.col("i") >= 2500), "k", p=10)
    merged = (a.unionByName(b).groupBy("bucket")
              .agg(F.max("register").alias("register"))
              .orderBy("bucket").collect())
    full = cs.hll_registers(df, "k", p=10).orderBy("bucket").collect()
    assert merged == full
    # CMS: never underestimates; exact when collision-free
    items = (df.groupBy("k").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("k").asc()).limit(20)
             .select(F.col("k").alias("item"), "cnt"))
    got = (cs.cms_estimate(df, items, "k", width=1024, depth=4)
           .join(items, "item").toPandas())
    assert (got["est"] >= got["cnt"]).all()
    # counters from disjoint halves sum-merge to the full counters
    ca = cs.cms_counters(df.filter(F.col("i") < 2500), "k")
    cb = cs.cms_counters(df.filter(F.col("i") >= 2500), "k")
    msum = (ca.unionByName(cb).groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt")).orderBy("d", "bucket").collect())
    cfull = cs.cms_counters(df, "k").orderBy("d", "bucket").collect()
    assert [(r["d"], r["bucket"], r["cnt"]) for r in msum] == \
           [(r["d"], r["bucket"], r["cnt"]) for r in cfull]


def test_bloom_filter_properties(spark):
    from xgboost_spark.operators import cardsketch as cs
    members = spark.createDataFrame(
        [(f"m{i}",) for i in range(500)], "word string")
    others = spark.createDataFrame(
        [(f"x{i}",) for i in range(2000)], "word string")
    bits = cs.bloom_bits(members, "word")
    # no false negatives: every member probes present
    got_m = cs.bloom_probe(members, bits, "word").toPandas()
    assert got_m["maybe_present"].all()
    # false positives bounded: with m=65536, k=4, n=500 the rate is
    # (1-e^{-kn/m})^k ~ 7e-7 — allow generous slack
    got_o = cs.bloom_probe(others, bits, "word").toPandas()
    assert got_o["maybe_present"].sum() <= 5
    # merge: union of two filters' bit sets == filter of the union
    m2 = spark.createDataFrame([(f"n{i}",) for i in range(300)], "word string")
    merged = cs.bloom_bits(members.unionByName(m2), "word").orderBy("bit")
    unioned = (cs.bloom_bits(members, "word")
               .unionByName(cs.bloom_bits(m2, "word"))
               .distinct().orderBy("bit"))
    assert merged.collect() == unioned.collect()


def test_pca_fit_project(spark):
    from xgboost_spark.operators import linalg
    rng = np.random.default_rng(13)
    # anisotropic data: variance concentrated in 2 known directions
    basis = np.linalg.qr(rng.normal(size=(6, 6)))[0]
    scales = np.array([5.0, 3.0, 0.3, 0.2, 0.1, 0.05])
    X = rng.normal(size=(800, 6)) * scales @ basis.T + rng.normal(size=6)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(X)),
                      "embedding": [list(map(float, r)) for r in X]}))
    # distributed covariance == numpy covariance
    cov = linalg.covariance(df, "embedding")
    np.testing.assert_allclose(cov, np.cov(X.T), rtol=0, atol=1e-8)
    comps, ev, mean = linalg.pca_fit(df, "embedding", k=3)
    assert ev[0] > ev[1] > ev[2] > 0
    # top-2 components capture the two dominant planted directions
    assert abs(comps[0] @ basis[:, 0]) > 0.98
    assert abs(comps[1] @ basis[:, 1]) > 0.98
    # orthonormal
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    # projection: distributed result equals the numpy projection
    out = linalg.pca_project(df, comps, mean, "embedding").toPandas()
    out = out.sort_values("vec_id", ignore_index=True)
    P = np.stack(out["projected"].to_numpy())
    np.testing.assert_allclose(P, (X - mean) @ comps.T, atol=1e-8)
    # projected variance matches the eigenvalues
    np.testing.assert_allclose(P.var(axis=0, ddof=1), ev, rtol=0.05)


def test_covariance_large_offset_stability(spark):
    """Shift-centered moments must survive means that are huge relative
    to the variance — the regime where the raw one-pass formula
    G - s s^T/n cancels catastrophically."""
    from xgboost_spark.operators import linalg
    rng = np.random.default_rng(21)
    X = rng.normal(size=(600, 4)) * 0.01 + np.array([1e4, -2e4, 3e4, 5e3])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(X)),
                      "embedding": [list(map(float, r)) for r in X]}))
    cov = linalg.covariance(df, "embedding")
    np.testing.assert_allclose(cov, np.cov(X.T), rtol=1e-6, atol=1e-12)
    comps, ev, mean = linalg.pca_fit(df, "embedding", k=2)
    np.testing.assert_allclose(mean, X.mean(axis=0), rtol=1e-12)
    assert (ev > 0).all()


@pytest.mark.slow
def test_connected_components_random_graphs(spark):
    """Randomized cross-check vs a plain union-find reference: the
    large-star/small-star labels must equal the exact component-min
    labeling on arbitrary graph shapes (cliques, chains, isolated
    pairs, self-loops, dense blobs)."""
    def uf_labels(n_nodes, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    for seed in range(6):
        rng = np.random.default_rng(100 + seed)
        n = int(rng.integers(20, 80))
        m = int(rng.integers(n // 2, 3 * n))
        edges = [(int(rng.integers(0, n)), int(rng.integers(0, n)))
                 for _ in range(m)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"]
               for r in dedup.connected_components(pairs).collect()}
        ref = uf_labels(n, [(a, b) for a, b in edges if a != b])
        # nodes appearing only in self-loops label themselves
        for a, b in edges:
            ref.setdefault(a, a)
            ref.setdefault(b, b)
        assert got == ref, f"seed {seed}"


def test_mp3_metadata(spark):
    """MP3 frame-header metadata (parse_mp3_metadata / mp3_metadata):
    exact ISO 11172-3 header arithmetic over a synthetic CBR stream —
    ID3v2 tag skipped, 5 MPEG1 Layer-III 128 kbps 44.1 kHz stereo
    frames counted, duration = frames * 1152 / rate.  Non-MP3 rows get
    a NULL struct; sample synthesis stays stubbed."""
    # header FF FB 90 00: sync, MPEG1, Layer III, no CRC, 128 kbps,
    # 44100 Hz, no padding, stereo -> frame length 144*128000/44100 = 417
    frame = b"\xff\xfb\x90\x00" + b"\x00" * (417 - 4)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x14" + b"\x00" * 20
    mp3 = id3 + frame * 5
    meta = multimodal.parse_mp3_metadata(mp3)
    assert meta == {"mpeg_version": "1", "layer": 3, "bitrate_kbps": 128,
                    "sample_rate": 44100, "channels": 2, "n_frames": 5,
                    "duration_ms": 131}
    # MPEG2 Layer III 64kbps 22050Hz mono: ver bits 10 -> FF F3;
    # br_idx for 64 in V2L3 table is 8, sr_idx 0 -> 0x80; mode 11 -> 0xC0
    f2len = 576 * (64000 // 8) // 22050  # 209
    mp3_v2 = (b"\xff\xf3\x80\xc0" + b"\x00" * (f2len - 4)) * 3
    m2 = multimodal.parse_mp3_metadata(mp3_v2)
    assert (m2["mpeg_version"], m2["layer"], m2["bitrate_kbps"],
            m2["sample_rate"], m2["channels"], m2["n_frames"]) == (
        "2", 3, 64, 22050, 1, 3)
    with pytest.raises(ValueError):
        multimodal.parse_mp3_metadata(b"RIFF not an mp3 stream at all")
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "content": [mp3, b"garbage bytes"]}))
    out = multimodal.mp3_metadata(df).orderBy("id").toPandas()
    assert out["mp3_meta"][0]["n_frames"] == 5
    assert out["mp3_meta"][1] is None


def test_duplicate_spans_planted(spark):
    """duplicate_spans (Lee et al. 2022 reduction) on planted data:
    a 40-char span shared by docs 1 and 2 must come back as ONE merged
    interval per doc at exactly the right offsets; the within-doc
    repeat in doc 4 must be caught too; unique text yields no rows."""
    shared = "the quick brown fox jumps over the lazy "   # 40 chars
    rows = [
        (1, "AAAA " + shared + "unique tail one"),
        (2, "BBBBBBB " + shared + "different tail"),
        (3, "totally unique text with no repeats at all here"),
        (4, "xx " + shared + "yy " + shared + "zz"),      # within-doc
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.duplicate_spans(df, k=20).toPandas() \
        .sort_values(["id", "span_start"], ignore_index=True)
    assert set(out["id"]) == {1, 2, 4}
    # the maximal duplicated substring is ' the quick ... lazy ' — the
    # SPACE preceding 'the' is shared by every occurrence too, so each
    # span is 41 chars and starts one char before the planted string
    assert out.values.tolist() == [
        [1, 5, 46, 41], [2, 8, 49, 41], [4, 3, 44, 41], [4, 46, 87, 41]]


def test_duplicate_spans_plan(spark, sf_dir):
    """The gram pipeline must stay a HashAggregate + left-semi join and
    the interval merge must run under a window PARTITIONED by id."""
    import contextlib, io
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.duplicate_spans(docs).explain(mode="formatted")
    p = buf.getvalue()
    assert "SinglePartition" not in p
    assert "LeftSemi" in p
    assert "HashAggregate" in p


def test_strip_duplicate_spans_keep_first(spark):
    """strip_duplicate_spans keep-first policy: the lowest-(id, pos)
    occurrence of each duplicated gram survives; later copies are cut
    and the text rebuilt from the kept segments."""
    shared = "the quick brown fox jumps over the lazy "   # 40 chars
    rows = [
        (1, "AAAA " + shared + "unique tail one"),
        (2, "BBBBBBB " + shared + "different tail"),
        (3, "totally unique text with no repeats at all here"),
        (4, "xx " + shared + "yy " + shared + "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup.strip_duplicate_spans(df, k=20).toPandas() \
        .set_index("id").sort_index()
    # doc 1 holds every first occurrence -> untouched
    assert out.loc[1, "removed_chars"] == 0
    assert out.loc[1, "text_stripped"] == rows[0][1]
    # doc 2 loses the shared span (incl. the shared preceding space)
    assert out.loc[2, "removed_chars"] == 41
    assert out.loc[2, "text_stripped"] == "BBBBBBB" + "different tail"
    # doc 3 untouched; doc 4 loses BOTH of its (later) occurrences
    assert out.loc[3, "removed_chars"] == 0
    assert out.loc[4, "removed_chars"] == 82
    assert out.loc[4, "text_stripped"] == "xx" + "yy" + "zz"


def test_duplicate_spans_matches_bruteforce(spark):
    """duplicate_spans vs a brute-force Python reference on a random
    low-alphabet corpus (two letters force heavy gram collisions):
    every duplicated-gram position set and merged interval must agree
    exactly — this is the reduction's correctness, checked end to end
    through the Spark plan rather than on hand-planted examples."""
    rng = np.random.default_rng(42)
    k = 8
    docs = []
    for i in range(60):
        n = int(rng.integers(10, 80))
        docs.append((i, "".join(rng.choice(list("ab"), size=n))))
    # brute force: count all k-grams, mark positions, merge intervals
    from collections import Counter, defaultdict
    counts = Counter()
    for _i, t in docs:
        for p in range(len(t) - k + 1):
            counts[t[p:p + k]] += 1
    expected = []
    for i, t in docs:
        hits = [p + 1 for p in range(len(t) - k + 1)
                if counts[t[p:p + k]] >= 2]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
            else:
                spans.append([p, p + k])
        expected += [(i, s, e, e - s) for s, e in spans]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = dedup.duplicate_spans(df, k=k).toPandas()
    got_set = set(map(tuple, got.values.tolist()))
    assert got_set == set(expected), (
        f"{len(got_set ^ set(expected))} differing spans")


def test_strip_spans_hot_gram(spark):
    """One gram repeated 10^5 times (the pathological boilerplate case
    the HashAggregate rewrite exists for): keep-first must still be
    exact — only the lowest-(id, pos) occurrence survives — and the job
    must complete through the partial-aggregating plan rather than a
    single-task per-gram sort."""
    boiler = "#### COMMON LICENSE HEADER LINE ####"        # 36 chars > k
    rows = [(i, f"doc{i:06d} " + boiler + f" tail{i}") for i in range(100_000)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string") \
        .repartition(32)
    out = dedup.strip_duplicate_spans(df, k=20).toPandas()
    # exactly one doc keeps the boilerplate; string-gram spans bleed
    # one char into the surrounding identical ' ' context at most
    kept = out[out["removed_chars"] == 0]
    assert len(kept) == 1 and kept["id"].iloc[0] == 0
    assert (out[out["id"] > 0]["removed_chars"] > 0).all()
    assert not out[out["id"] > 0]["text_stripped"].str.contains(
        "COMMON LICENSE").any()


@pytest.mark.slow
def test_span_max_gram_count_cap(spark):
    """max_gram_count (default off): duplicate_spans output is
    IDENTICAL with the cap engaged (hot grams route map-side via a
    broadcast isin, same spans); strip_duplicate_spans above-cap grams
    lose EVERY occurrence including the global first — the one
    documented semantic change the cap makes."""
    shared = "the quick brown fox jumps over the lazy "   # 40 chars
    rows = [(i, f"p{i:03d} " + shared + f"tail {i}") for i in range(50)]
    rows.append((900, "completely unique text with no repeats in sight"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    base = dedup.duplicate_spans(df, k=20).toPandas()
    capped = dedup.duplicate_spans(df, k=20, max_gram_count=10).toPandas()
    assert (set(map(tuple, base.values.tolist()))
            == set(map(tuple, capped.values.tolist())))
    s = dedup.strip_duplicate_spans(df, k=20, max_gram_count=10) \
        .toPandas().set_index("id").sort_index()
    # every doc loses the shared span — no keep-first survivor above cap
    assert (s.loc[s.index < 900, "removed_chars"] > 0).all()
    assert s.loc[900, "removed_chars"] == 0


def test_h264_sps_metadata(spark):
    """H.264 SPS metadata (parse_h264_sps / h264_metadata): an SPS
    synthesized bit-by-bit per ITU-T H.264 7.3.2.1 (Exp-Golomb writer)
    must parse back to the exact profile/level/dimensions, including
    the cropping arithmetic; non-H.264 rows yield a NULL struct."""
    class W:
        def __init__(self):
            self.bits = []

        def b(self, v, n=1):
            self.bits += [(v >> (n - 1 - i)) & 1 for i in range(n)]

        def ue(self, v):
            k = v + 1
            n = k.bit_length()
            self.b(0, n - 1) if n > 1 else None
            self.b(k, n)

        def bytes_(self):
            self.b(1)                       # rbsp_stop_one_bit
            while len(self.bits) % 8:
                self.b(0)
            out = bytearray()
            for i in range(0, len(self.bits), 8):
                v = 0
                for bit in self.bits[i:i + 8]:
                    v = (v << 1) | bit
                out.append(v)
            return bytes(out)

    w = W()
    w.b(66, 8); w.b(0, 8); w.b(30, 8)       # baseline, level 3.0
    w.ue(0)                                 # sps_id
    w.ue(0)                                 # log2_max_frame_num_minus4
    w.ue(0)                                 # poc_type 0
    w.ue(0)                                 # log2_max_poc_lsb_minus4
    w.ue(1)                                 # max_num_ref_frames
    w.b(0)                                  # gaps_in_frame_num
    w.ue(39)                                # 40 mbs -> 640 px
    w.ue(29)                                # 30 units -> 480 px
    w.b(1)                                  # frame_mbs_only
    w.b(1)                                  # direct_8x8
    w.b(1)                                  # frame_cropping
    w.ue(0); w.ue(1); w.ue(0); w.ue(1)      # crop r=1 (2px), b=1 (2px)
    w.b(0)                                  # vui absent
    stream = (b"\x00\x00\x00\x01" + bytes([0x67]) + w.bytes_()
              + b"\x00\x00\x01" + bytes([0x65, 0x88, 0x84]))
    meta = multimodal.parse_h264_sps(stream)
    assert meta == {"profile_idc": 66, "level_idc": 30,
                    "width": 638, "height": 478,
                    "max_num_ref_frames": 1, "frame_mbs_only": True,
                    "n_nal": 2}
    with pytest.raises(ValueError):
        multimodal.parse_h264_sps(b"RIFF this is not h264")
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "content": [stream, b"junk"]}))
    out = multimodal.h264_metadata(df).orderBy("id").toPandas()
    assert out["h264_meta"][0]["width"] == 638
    assert out["h264_meta"][1] is None


def test_knn_ivf_registry_recall_invariant(spark, sf_dir):
    """Pin the registry entry q_knn_ivf's recall against exact q_knn at
    its fixed seed/config (round 8: the refined-centroid hash-matched
    config — md5(id) seeds + one mean_round=6 Lloyd step, 8 lists,
    3 probes): the IVF quantizer, probe selection and ranking are fully
    deterministic, so recall@5 is an INVARIANT of the code + data, not
    a floor — a quantizer or probe regression shows up as an
    exact-value change, not just a dip below a loose threshold."""
    import collections

    import __spark_entry__ as E
    ivf = E.queries()["knn_ivf"](spark, sf_dir).toPandas()
    exact = E.queries()["knn"](spark, sf_dir).toPandas()
    ex, ap = collections.defaultdict(set), collections.defaultdict(set)
    for _, r in exact.iterrows():
        ex[r["query_id"]].add(r["nbr_id"])
    for _, r in ivf.iterrows():
        ap[r["query_id"]].add(r["nbr_id"])
    recs = {q: len(ex[q] & ap[q]) / len(ex[q]) for q in ex}
    mean_rec = sum(recs.values()) / len(recs)
    assert mean_rec >= 0.5, recs
    if sf_dir.rstrip("/").endswith("sf0.001"):
        # exact invariant at the default test SF (computed once, fixed
        # seed): per-query {0: .4, 1: 1.0, 2: .6, 3: 1.0, 4: 1.0} — up
        # from 0.6 with the round-8 refined (1-Lloyd-step) quantizer
        assert mean_rec == pytest.approx(0.8), recs


@pytest.mark.slow
def test_similarity_join_candidate_guard(spark):
    """Low-entropy corpus: the prefix-df pre-flight must warn (naming
    the bound) BEFORE the verify join explodes; healthy corpora and
    guard-off calls stay silent."""
    import warnings as W

    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    degenerate = spark.createDataFrame(
        [(i, tmpl) for i in range(200)], "doc_id long, text string")
    with W.catch_warnings(record=True) as w:
        W.simplefilter("always")
        out = dedup.similarity_join(degenerate, threshold=0.8,
                                    max_candidate_pairs=10_000)
    msgs = [str(x.message) for x in w]
    assert any("candidate bound" in m for m in msgs), msgs
    # the join itself is still returned (warn, not bail) and correct
    assert out.count() == 200 * 199 // 2

    healthy = spark.createDataFrame(
        [(i, f"document {i} about topic {i * 7 % 13} with words "
             f"w{i} x{i} y{i} z{i}") for i in range(200)],
        "doc_id long, text string")
    with W.catch_warnings(record=True) as w:
        W.simplefilter("always")
        dedup.similarity_join(healthy, threshold=0.8,
                              max_candidate_pairs=10_000)
    assert not any("candidate bound" in str(x.message) for x in w)

    with W.catch_warnings(record=True) as w:
        W.simplefilter("always")
        dedup.similarity_join(degenerate, threshold=0.8,
                              max_candidate_pairs=None)
    assert not any("candidate bound" in str(x.message) for x in w)


@pytest.mark.slow
def test_similarity_join_guard_raise_mode(spark):
    """on_blowup='raise' (round-8 verdict): an unattended 100 TB
    pipeline must STOP before the verify join, not warn and OOM later.
    Default stays 'warn'; bad mode strings fail fast."""
    import pytest as _pt
    tmpl = "alpha beta gamma delta epsilon zeta eta theta"
    degenerate = spark.createDataFrame(
        [(i, tmpl) for i in range(200)], "doc_id long, text string")
    with _pt.raises(RuntimeError, match="candidate bound"):
        dedup.similarity_join(degenerate, threshold=0.8,
                              max_candidate_pairs=10_000,
                              on_blowup="raise")
    with _pt.raises(ValueError, match="on_blowup"):
        dedup.similarity_join(degenerate, threshold=0.8,
                              on_blowup="explode")
    # healthy corpus: raise mode constructs the join normally
    healthy = spark.createDataFrame(
        [(i, f"document {i} about topic {i * 7 % 13} with words "
             f"w{i} x{i} y{i} z{i}") for i in range(200)],
        "doc_id long, text string")
    out = dedup.similarity_join(healthy, threshold=0.8,
                                max_candidate_pairs=10_000,
                                on_blowup="raise")
    assert out.count() == 0


def test_similarity_join_default_is_lazy(spark):
    """Round-8 advice: with the default max_candidate_pairs=None,
    constructing the join must trigger NO Spark jobs — plan builders
    stay lazy; entry points opt into the eager guard."""
    df = spark.createDataFrame(
        [(i, f"some words w{i} x{i} y{i}") for i in range(50)],
        "doc_id long, text string")
    df.count()                      # materialize the input first
    ds = spark.sparkContext._jsc.sc().dagScheduler()
    n_before = ds.nextJobId()
    # guard the guard: the counter must be a real int (py4j converts it
    # on this Spark version) and must move when a job actually runs —
    # otherwise this test would be vacuously green
    assert isinstance(n_before, int)
    df.count()
    n_probe = ds.nextJobId()
    assert isinstance(n_probe, int) and n_probe > n_before, \
        "job counter is not sensitive; lazy assertion would be vacuous"
    dedup.similarity_join(df, threshold=0.8)
    assert ds.nextJobId() == n_probe, "lazy construction ran Spark jobs"


def test_pipeline_barrier_is_thread_safe_no_conf_mutation(spark):
    """Round-15: the multi-consumer barrier must not mutate
    session-global SQL conf during construction (the round-14 lazy
    localCheckpoint flipped spark.sql.adaptive.enabled on the SHARED
    conf, so a query planned concurrently from another thread — the
    entry harness runs a 4-thread pool — could silently get AQE off).
    Pins: (a) construction from two threads never touches the main
    session's conf, (b) the main session keeps AQE on throughout,
    (c) the checkpoint subtree is planned in a dedicated clone whose
    private conf has AQE off, and construction stays job-free."""
    from concurrent.futures import ThreadPoolExecutor

    df = spark.createDataFrame(
        [(i, f"some words w{i} x{i} y{i} z{i} q{i}") for i in range(50)],
        "doc_id long, text string")
    df.count()
    conf_calls = []
    orig_set = spark.conf.set

    def spy_set(key, value=None):
        conf_calls.append(key)
        return orig_set(key, value)

    ds = spark.sparkContext._jsc.sc().dagScheduler()
    # prime the planning clone OUTSIDE the job-count window (one-time,
    # lazily built per session)
    dedup._barrier_clone(spark)
    n0 = ds.nextJobId()
    spark.conf.set = spy_set
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f1 = pool.submit(dedup.similarity_join, df, threshold=0.8)
            f2 = pool.submit(dedup.strip_duplicate_spans, df, "text",
                             "doc_id")
            f1.result(), f2.result()
    finally:
        spark.conf.set = orig_set
    assert not [k for k in conf_calls if "adaptive" in k], conf_calls
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert ds.nextJobId() == n0, "barrier construction ran Spark jobs"
    clone = dedup._barrier_clone(spark)
    assert clone is not spark
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    # same clone is reused (one planning session per main session)
    assert dedup._barrier_clone(spark) is clone


def test_barrier_clone_follows_runtime_shuffle_partitions(spark):
    """A runtime ``spark.sql.shuffle.partitions`` change reaches the
    checkpointed subtree (the clone used to keep its builder-time
    value), and the clone already built for the old value is left as
    it was."""
    from xgboost_spark.operators import dedup
    df = spark.range(100).selectExpr("id % 10 AS k")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    old_clone = dedup._barrier_clone(spark)
    try:
        spark.conf.set(key, "7")
        ck = dedup._lazy_local_checkpoint(df.distinct())
        assert ck.rdd.getNumPartitions() == 7
        assert sorted(r.k for r in ck.collect()) == list(range(10))
        assert dedup._barrier_clone(spark) is not old_clone
        assert old_clone.conf.get(key) == before
    finally:
        spark.conf.set(key, before)
    assert dedup._barrier_clone(spark) is old_clone


def test_similarity_join_guard_sampled_estimate(spark):
    """guard_sample < 1 scales the sampled bound by 1/f^2 — it must
    still flag a degenerate corpus from a fraction of it."""
    import warnings as W

    tmpl = "one two three four five six seven eight nine ten"
    degenerate = spark.createDataFrame(
        [(i, tmpl) for i in range(400)], "doc_id long, text string")
    with W.catch_warnings(record=True) as w:
        W.simplefilter("always")
        dedup.similarity_join(degenerate, threshold=0.8,
                              max_candidate_pairs=10_000,
                              guard_sample=0.5)
    assert any("candidate bound" in str(x.message) for x in w)


def test_similarity_join_candidate_bound_scales_linearly(spark):
    """sf-scaling early warning (round-8 advice): the PPJoin candidate
    bound on the real documents table must grow ~linearly from sf0.001
    to sf0.01 — superlinear growth means prefix selectivity is
    collapsing and the verify join would blow up first at 100 TB."""
    lo = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hi = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_lo, n_hi = lo.count(), hi.count()
    b_lo = dedup.ppjoin_candidate_bound(lo, threshold=0.5, shingle_n=5)
    b_hi = dedup.ppjoin_candidate_bound(hi, threshold=0.5, shingle_n=5)
    row_ratio = n_hi / n_lo
    bound_ratio = (b_hi + 1.0) / (b_lo + 1.0)
    # allow mild superlinearity (shared boilerplate grows with corpus)
    assert bound_ratio <= row_ratio ** 1.5, (
        f"candidate bound grew {bound_ratio:.1f}x for {row_ratio:.1f}x "
        f"rows (bounds {b_lo:.0f} -> {b_hi:.0f})")


@pytest.mark.slow
def test_semantic_dedup_auto_clusters(spark, sf_dir):
    """n_clusters="auto" — the DEFAULT since round 11 — sizes clusters
    to a constant target (~256 rows) so the within-cluster pair stage
    stays LINEAR in corpus size (the round-10 sf1 sweep measured
    fixed-k at 22.6x for 10x data).  Same invariants as fixed-k; exact
    duplicates always co-cluster (identical vectors share every
    centroid distance), so known dup pairs still collapse."""
    import inspect
    assert inspect.signature(
        similarity.semantic_dedup).parameters["n_clusters"].default == "auto"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    # default call — no n_clusters — must take the auto (linear) path
    out = similarity.semantic_dedup(emb, threshold=0.5).toPandas()
    assert len(out) == n
    assert (out["rep_id"] <= out["id"]).all()
    m = out.set_index("id")["rep_id"]
    for r in set(out["rep_id"]):
        assert m[r] == r
    # injected exact duplicate of the min id must collapse onto it
    dup = emb.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding",
        "label")
    out2 = similarity.semantic_dedup(emb.unionByName(dup),
                                     n_clusters="auto",
                                     threshold=0.99).toPandas()
    src = int(emb.agg(F.min("vec_id")).first()[0])
    dup_id = src + 10_000_000
    got = out2.set_index("id")["rep_id"]
    assert got[dup_id] == got[src]


def test_ivf_index_save_load_search(spark, sf_dir, tmp_path):
    """Build-once-serve-many: ivf_save/ivf_load round-trip a prebuilt
    index through parquet, and ivf_search over the reloaded index
    returns exactly what cosine_topk_ivf computes end-to-end with the
    same deterministic quantizer (seed_by='id', iters=0) — the serving
    path a 100 TB deployment uses so query batches never re-cluster
    the corpus.  The lists side persists partitioned by list_id, so a
    probe scan prunes to n_probe partitions."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = emb.filter(F.col("vec_id") < 10)
    assigned, cents = similarity.ivf_build(emb, n_centroids=8,
                                           iters=0, seed_by="id")
    path = str(tmp_path / "ivf")
    similarity.ivf_save(assigned, cents, path)
    import os
    assert any(d.startswith("list_id=") for d in os.listdir(f"{path}/lists"))
    la, lc = similarity.ivf_load(spark, path)
    assert np.allclose(lc, cents)
    direct = (similarity.cosine_topk_ivf(
        emb, q, k=5, n_centroids=8, n_probe=4, iters=0, seed_by="id")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    served = (similarity.ivf_search(la, lc, q, k=5, n_probe=4)
              .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    key = ["query_id", "nbr_id", "rank"]
    assert served[key].equals(direct[key])


def test_ivf_broadcast_query_guard(spark, sf_dir, monkeypatch):
    """broadcast_queries=True self-enforces its batch << corpus contract
    (round-13): past IVF_BROADCAST_QUERY_MAX rows the collect is
    abandoned (the LIMIT bounds it driver-side) and the DISTRIBUTED
    probe-assignment path runs with a warning — results identical."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    q = emb.filter(F.col("vec_id") < 40)
    assigned, cents = similarity.ivf_build(emb, n_centroids=8,
                                           iters=0, seed_by="id")
    want = (similarity.ivf_search(assigned, cents, q, k=5, n_probe=4,
                                  broadcast_queries=False)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True))
    monkeypatch.setattr(similarity, "IVF_BROADCAST_QUERY_MAX", 10)
    with pytest.warns(UserWarning, match="distributed probe-assignment"):
        got = (similarity.ivf_search(assigned, cents, q, k=5, n_probe=4,
                                     broadcast_queries=True)
               .toPandas().sort_values(["query_id", "rank"])
               .reset_index(drop=True))
    key = ["query_id", "nbr_id", "rank"]
    assert got[key].equals(want[key])
