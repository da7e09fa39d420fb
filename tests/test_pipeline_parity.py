"""Training-data pipeline queries vs DuckDB oracles at sf0.01, plus
semantic checks (LSH recall, multimodal plumbing) no oracle covers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_pbf_parquet_spark.plans.pipeline_queries import PIPELINE_QUERIES
from osm_pbf_parquet_spark.plans.relational import t
from osm_pbf_parquet_spark.operators import dedup, multimodal, similarity

from oracle_harness import run_compare

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(PIPELINE_QUERIES))
def test_pipeline_oracle_parity(spark, name):
    fn, oracle = PIPELINE_QUERIES[name]
    run_compare(spark, SF_DIR, name, fn, oracle)


def test_minhash_lsh_finds_planted_near_dups(spark):
    """The synthetic documents table plants near-dup pairs (jaccard ≥ .9);
    LSH must surface them (32 hashes / 8 bands → P(miss | j=.9) < 1e-3)."""
    docs = t(spark, SF_DIR, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_dedup(docs, threshold=0.9).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.9).collect()
    }
    assert exact, "expected planted near-dups in testdata"
    assert lsh == exact  # verification filter makes LSH exact on found pairs


def test_lsh_ann_recall_vs_brute_force(spark):
    """LSH ANN is approximate — measure recall against the exact pairs."""
    emb = t(spark, SF_DIR, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dup_pairs(emb, threshold=0.45).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_ann_pairs(emb, dim=64, threshold=0.45).collect()
    }
    assert approx <= exact  # candidates are verified → no false positives
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.3, f"LSH recall too low: {recall}"


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF probes 2/8 cells — approximate; measure top-k recall against
    the exact broadcast scan."""
    from pyspark.sql import functions as F

    emb = t(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, q, k=5).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def _exact_l2_topk(spark, iv, nq=20, k=5):
    """Exact squared-L2 top-k baseline (PQ approximates L2, not cosine)."""
    from pyspark.sql import Window

    v = iv.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
    )
    a = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")) \
         .filter(F.col("query_id") < nq)
    b = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    d = (
        a.crossJoin(b).filter("query_id != neighbor_id")
        .withColumn("dist", F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 AS DOUBLE), (acc, e) -> acc + e)"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return {
        (r["query_id"], r["neighbor_id"])
        for r in d.withColumn("rk", F.row_number().over(w))
                  .filter("rk <= 5").collect()
    }


def test_pq_rerank_recall_vs_brute_force(spark):
    """PQ+refinement (the gate's configuration) must recover most of the
    exact top-k: ADC shortlists 40, exact re-rank keeps 5. Measured 0.90
    on this corpus; random embeddings are PQ's worst case (no subspace
    correlation to exploit), so the floor is generous."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    exact = _exact_l2_topk(spark, iv)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_adc_topk(
            iv, iv.filter(F.col("vec_id") < 20), k=5, rerank=40
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ+rerank recall too low: {recall}"


def test_pq_pure_adc_recall_and_schema(spark):
    """Pure ADC (no refinement) is the memory-bound scan path — weaker
    recall by design (measured 0.37 here); assert a floor plus the
    adc_dist output contract."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    exact = _exact_l2_topk(spark, iv)
    out = similarity.pq_adc_topk(iv, iv.filter(F.col("vec_id") < 20), k=5)
    assert out.columns == ["query_id", "neighbor_id", "adc_dist", "rk"]
    approx = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"pure-ADC recall too low: {recall}"


def test_pq_encode_code_contract(spark):
    """Every vector compresses to exactly m codes, each in [0, ks)."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    cb = similarity.pq_train_codebooks(iv, dim=64)
    assert len(cb) == similarity.PQ_M
    assert all(len(cj) == similarity.PQ_KS for cj in cb)
    codes = similarity.pq_encode(iv, cb).collect()
    assert len(codes) == iv.count()
    for r in codes:
        assert len(r["codes"]) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_KS for c in r["codes"])


def test_multimodal_feature_plumbing(spark):
    docs = t(spark, SF_DIR, "documents").limit(50)
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 50
    for r in feats:
        assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
        assert 1 <= r["n_frames"] <= 8
        assert 0.0 <= r["feature_norm"] <= 1.0


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0JFIF")  # JPEG stays stubbed
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"\xff\xfbMP3")


def _make_png(width, height, pixels, color=2, filters=None):
    """Minimal PNG encoder for decoder tests: applies the REQUESTED
    per-row filter types to ``pixels`` (row-major, ``channels`` per
    sample) and zlib-compresses, so decode must invert each filter
    exactly to round-trip."""
    import binascii
    import struct
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        ft = filters[y]
        raw.append(ft)
        for x in range(stride):
            a = line[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if ft == 0:
                raw.append(line[x])
            elif ft == 1:
                raw.append((line[x] - a) & 0xFF)
            elif ft == 2:
                raw.append((line[x] - b) & 0xFF)
            elif ft == 3:
                raw.append((line[x] - (a + b) // 2) & 0xFF)
            elif ft == 4:
                raw.append((line[x] - multimodal._paeth(a, b, c)) & 0xFF)
        prev = line

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", binascii.crc32(ctype + data)))

    return (
        multimodal.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height,
                                     8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filter_types():
    """r11: the PNG path must invert every RFC 2083 filter (None, Sub,
    Up, Average, Paeth) through real zlib.compress output — one row per
    filter type on a 4x5 RGB image with non-trivial gradients."""
    w, h = 4, 5
    pixels = bytes(((x * 37 + y * 91 + 13) % 256)
                   for y in range(h) for x in range(w * 3))
    png = _make_png(w, h, pixels, color=2, filters=[0, 1, 2, 3, 4])
    img = multimodal.decode_image(png)
    assert (img["width"], img["height"]) == (w, h)
    assert img["pixels"] == pixels


def test_png_decode_gray_and_rgba():
    """Color type 0 replicates to RGB; color type 6 drops alpha — both
    per the decoder's documented RGB pixel contract."""
    gray = bytes((x * 11 + y * 7) % 256 for y in range(3) for x in range(2))
    img = multimodal.decode_image(
        _make_png(2, 3, gray, color=0, filters=[4, 1, 3]))
    assert img["pixels"] == bytes(v for v in gray for _ in range(3))
    rgba = bytes(range(2 * 2 * 4))
    img = multimodal.decode_image(
        _make_png(2, 2, rgba, color=6, filters=[2, 4]))
    want = bytes(v for i, v in enumerate(rgba) if i % 4 != 3)
    assert img["pixels"] == want


def test_png_decode_rejects_corruption():
    pixels = bytes(range(2 * 2 * 3))
    png = bytearray(_make_png(2, 2, pixels))
    bad = bytearray(png)
    bad[40] ^= 0xFF  # flip a byte inside IDAT → chunk CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_image(bytes(bad))
    with pytest.raises(ValueError, match="signature|missing|truncated"):
        multimodal.decode_image(multimodal.PNG_SIGNATURE)
    # 16-bit depth / interlace are rejected loudly, not mis-decoded
    import struct as _s
    hdr16 = _make_png(2, 2, pixels)
    hdr16 = bytearray(hdr16)
    hdr16[24] = 16  # bit depth byte inside IHDR
    with pytest.raises(ValueError):  # CRC now fails first — still loud
        multimodal.decode_image(bytes(hdr16))


def test_ppm_decode_real():
    """P6 parser: dims from header (incl. comments + multi-digit tokens),
    pixels verbatim."""
    pixels = bytes(range(2 * 3 * 3))  # 2x3 RGB
    ppm = b"P6\n# a comment\n2 3\n255\n" + pixels
    img = multimodal.decode_image(ppm)
    assert (img["width"], img["height"]) == (2, 3)
    assert img["pixels"] == pixels
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"P6\n2 3\n255\n" + pixels[:-1])
    with pytest.raises(ValueError, match="maxval"):
        multimodal.decode_image(b"P6\n2 3\n65535\n" + pixels)


def _make_bmp(width, height, rgb_rows, top_down=False):
    """Minimal 24-bit BI_RGB BMP; rgb_rows is top-down [[(r,g,b)...]]."""
    import struct as S

    stride = (width * 3 + 3) & ~3
    rows = rgb_rows if top_down else rgb_rows[::-1]  # file order
    body = b"".join(
        b"".join(bytes((b, g, r)) for r, g, b in row).ljust(stride, b"\x00")
        for row in rows
    )
    hdr = (
        b"BM" + S.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + S.pack("<iiiHHIIiiII", 40, width, -height if top_down else height,
                 1, 24, 0, len(body), 2835, 2835, 0, 0)
    )
    return hdr + body


def test_bmp_decode_real():
    """BMP parser: bottom-up row flip, BGR→RGB, 4-byte row padding, and
    the top-down (negative height) variant."""
    rows = [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]]  # 2x2 top-down
    want = b"".join(bytes(px) for row in rows for px in row)
    for td in (False, True):
        img = multimodal.decode_image(_make_bmp(2, 2, rows, top_down=td))
        assert (img["width"], img["height"]) == (2, 2)
        assert img["pixels"] == want, f"top_down={td}"
    with pytest.raises(ValueError, match="unsupported BMP"):
        bad = bytearray(_make_bmp(2, 2, rows))
        bad[28] = 8  # bpp=8
        multimodal.decode_image(bytes(bad))


def test_wav_decode_real():
    """WAV parser: fmt/data chunk walk, little-endian int16 samples."""
    import struct as S

    samples = [0, 1, -1, 32767, -32768, 12345]
    payload = multimodal._wav_header(len(samples), 8000) + S.pack(
        f"<{len(samples)}h", *samples
    )
    au = multimodal.decode_audio(payload)
    assert au["channels"] == 1 and au["sample_rate"] == 8000
    assert au["n_samples"] == len(samples)
    assert list(au["samples"]) == samples
    with pytest.raises(ValueError, match="missing fmt"):
        multimodal.decode_audio(b"RIFF\x04\x00\x00\x00WAVE")


def test_pii_scrub_semantics(spark):
    """Scrub order + placeholder content: emails are redacted before the
    ip/phone matchers can nibble their digits; counts reflect the
    pre-scrub text; non-PII text is untouched."""
    from osm_pbf_parquet_spark.operators import text as T

    rows = [
        (1, "mail a.b+c@x-y.org and 10.0.0.1 and +4915123456 done"),
        (2, "no pii here, just words and 1.5 numbers"),
        (3, ""),
        (4, "two mails p@q.io r@s.de one ip 255.255.255.255"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.with_pii_scrubbed(df).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[1]["scrubbed"] == "mail <EMAIL> and <IPV4> and <PHONE> done"
    assert out[2]["scrubbed"] == rows[1][1] and out[2]["n_email"] == 0
    assert out[3]["scrubbed"] == ""
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (2, 1)
    assert out[4]["scrubbed"] == "two mails <EMAIL> <EMAIL> one ip <IPV4>"


def test_repetition_stats_semantics(spark):
    """Duplicate fractions against hand-computed values, incl. the short-
    doc guards (0- and 1-word docs must not hit descending sequence())."""
    from osm_pbf_parquet_spark.operators import text as T

    rows = [
        (1, "a b a b a"),   # words: 5, distinct 2; 2grams: ab ba ab ba; 3grams: aba bab aba
        (2, "x"),           # single word: no grams
        (3, ""),            # split('') -> [''], 1 "word"
        (4, "u v w x"),     # all unique
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    assert out[1]["n_words"] == 5
    assert out[1]["dup_word_fraction"] == round(1 - 2 / 5, 4)
    assert out[1]["dup_2gram_fraction"] == round(1 - 2 / 4, 4)
    assert out[1]["dup_3gram_fraction"] == round(1 - 2 / 3, 4)
    assert out[2]["n_words"] == 1 and out[2]["dup_2gram_fraction"] == 0.0
    assert out[3]["n_words"] == 1 and out[3]["dup_3gram_fraction"] == 0.0
    assert out[4]["dup_word_fraction"] == 0.0
    assert out[4]["dup_2gram_fraction"] == 0.0


def test_synthesized_media_decodes(spark):
    """attach_ppm_payload / attach_wav_payload emit payloads the REAL
    decoders accept; features reflect decoded bytes (gate-query shape)."""
    docs = t(spark, SF_DIR, "documents").limit(20)
    feats = multimodal.extract_image_features(
        multimodal.attach_ppm_payload(docs)
    ).collect()
    assert len(feats) == 20
    for r in feats:
        assert (r["width"], r["height"]) == (multimodal.PPM_W, multimodal.PPM_H)
        assert 0.0 <= r["mean_r"] <= 255.0
    au = multimodal.extract_audio_features(
        multimodal.attach_wav_payload(docs)
    ).collect()
    assert len(au) == 20
    for r in au:
        assert r["sample_rate"] == multimodal.WAV_RATE
        assert r["n_samples"] == multimodal.WAV_SAMPLES
        assert 0 <= r["mean_abs"] <= 32768.0 and 0 <= r["peak"] <= 32768


def test_frame_sample_shapes(spark):
    docs = t(spark, SF_DIR, "documents").limit(20)
    media = multimodal.attach_binary(docs)
    frames = multimodal.frame_sample(media, every_n=2)
    agg = frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    assert len(agg) == 20
    assert all(1 <= r["n"] <= 4 for r in agg)  # ceil(n_frames/2), n_frames<=8


def test_signature_impls_bit_identical(spark):
    """The Arrow (numpy) and SQL (Catalyst fold) signature paths must
    produce bit-identical minhash/simhash values — the DuckDB oracle
    mirrors the SQL form, so this equality is what keeps the default
    Arrow path oracle-checkable."""
    docs = t(spark, SF_DIR, "documents")
    # gram_hashes included: the r12 fused arrow kernel shingles+hashes in
    # Python (_gram_hash_vec), and gram_hashes feeds the verify joins —
    # order matters there (array_intersect is set-semantic but the
    # persisted frame is shared), so compare the full arrays.
    a = dedup.minhash_signatures(docs, impl="arrow").select(
        "doc_id", "gram_hashes", "minhash"
    )
    b = dedup.minhash_signatures(docs, impl="sql").select(
        "doc_id", "gram_hashes", "minhash"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    sa = dedup.simhash_signatures(docs, impl="arrow").select("doc_id", "simhash")
    sb = dedup.simhash_signatures(docs, impl="sql").select("doc_id", "simhash")
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0


def test_duplicate_components_transitive_closure(spark):
    """A chain a~b~c must collapse to one component with canonical=min,
    even though (a,c) itself is not a pair; disjoint pair stays separate."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 8), (30, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["canonical_id"], r["component_size"])
        for r in dedup.duplicate_components(pairs).collect()
    }
    assert got == {
        (1, 1, 4), (2, 1, 4), (3, 1, 4), (30, 1, 4),
        (8, 8, 2), (9, 8, 2),
    }


def test_grams_exploded_matches_array_form(spark):
    """grams_exploded (flat codegen shingling) must be row-for-row
    identical to exploding with_grams' arrays — same distinct (doc, gh)
    set, including the short-doc whole-text gram case."""
    docs = t(spark, SF_DIR, "documents").limit(500).union(
        spark.createDataFrame([(99_999, "one two", "en", "s", 7)],
                              ["doc_id", "text", "lang", "source", "n_chars"])
    )
    # exact MULTISET equality (no dropDuplicates): two string-distinct
    # grams colliding mod p must appear twice on both sides
    b = dedup.with_grams(docs).select(
        "doc_id", F.explode("gram_hashes").alias("gh")
    )
    for impl in ("arrow", "sql"):
        a = dedup.grams_exploded(docs, impl=impl).select("doc_id", "gh")
        assert a.exceptAll(b).count() == 0, impl
        assert b.exceptAll(a).count() == 0, impl


def test_pca_power_matches_numpy_reference(spark):
    """r10: the in-plan power iteration equals a sequential numpy
    replication of the same spec (quantized Gram, 3 rounds, fixed unit
    start) on constructed vectors with a dominant direction."""
    import numpy as np

    from osm_pbf_parquet_spark.operators.similarity import pca_power_scores

    rng = [(i, [float(((i * 31 + j * 17) % 13) - 6) / 6.0
                + (3.0 if j == 5 else 0.0)  # dominant axis 5
                for j in range(64)]) for i in range(40)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["pc1"] for r in pca_power_scores(df).collect()}

    X = np.array([v for _, v in rng])
    Xi = np.sign(X * 1e6) * np.floor(np.abs(X * 1e6) + 0.5)
    G = (Xi.T @ Xi) / 1e12
    v = np.full(64, 0.125)
    for _ in range(3):
        w = G @ v
        v = w / np.sqrt((w * w).sum())
    ref = np.round(X @ v, 6)
    assert max(abs(got[i] - ref[i]) for i, _ in rng) <= 1e-6
    # the dominant (uncentered) direction loads on axis 5, so scores
    # must track that coordinate strongly (other axes add bounded noise)
    axis5 = np.array([v[5] for _, v in rng])
    scores = np.array([got[i] for i, _ in rng])
    corr = abs(np.corrcoef(axis5, scores)[0, 1])
    assert corr > 0.8, corr


def test_pca_power_non_64_dim(spark):
    """r11 (r10 verdict #1): the start vector's length is derived from
    the data in-plan — a d=16 corpus must return non-NULL scores that
    match the sequential numpy replication, where the old literal
    ``sequence(1, 64)`` start NULL-padded every matvec to all-NULL."""
    import numpy as np

    from osm_pbf_parquet_spark.operators.similarity import pca_power_scores

    rng = [(i, [float(((i * 13 + j * 7) % 11) - 5) / 5.0
                + (2.0 if j == 2 else 0.0)
                for j in range(16)]) for i in range(30)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["pc1"] for r in pca_power_scores(df).collect()}
    assert all(got[i] is not None for i, _ in rng)

    X = np.array([v for _, v in rng])
    Xi = np.sign(X * 1e6) * np.floor(np.abs(X * 1e6) + 0.5)
    G = (Xi.T @ Xi) / 1e12
    v = np.full(16, 0.125)
    for _ in range(3):
        w = G @ v
        v = w / np.sqrt((w * w).sum())
    ref = np.round(X @ v, 6)
    assert max(abs(got[i] - ref[i]) for i, _ in rng) <= 1.1e-6


def test_ivfpq_recall_vs_brute_force(spark):
    """IVFADC (L2 k-means coarse cells, residual PQ, probe 2/8 cells →
    ADC → exact re-rank): the probe restriction trades recall for
    touching n_probe/n_centroids of the corpus — measured 0.64 here
    (vs 0.90 for full-scan PQ+rerank), which is ~89% of the 0.72
    probe-restriction ceiling on this zero-mean random corpus; residual
    encoding's code-fidelity gain is pinned where it binds by
    ``test_ivfpq_residual_beats_raw_on_clustered``."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    exact = _exact_l2_topk(spark, iv)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(
            iv, iv.filter(F.col("vec_id") < 20), k=5, rerank=40
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.45, f"IVFPQ recall too low: {recall}"


@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_ivfpq_residual_beats_raw_on_clustered(spark):
    """Residual encoding (Jégou et al. 2011 §V) demonstrated where the
    mechanism binds — a clustered corpus, IVFADC's deployment case.
    16 well-separated cluster centers (±10000), members = center + a
    small 3-value lattice noise (±40). Apples-to-apples: both paths use
    pure ADC (no re-rank) and, for IVFADC, n_probe = n_centroids so the
    candidate sets are identical — ONLY the code arithmetic differs.

    Raw-vector PQ (``pq_adc_topk``) must cover 16 clusters × 3 noise
    patterns = 48 distinct subvectors with ks=16 codewords, so its codes
    collapse to cluster granularity and within-cluster ranking is
    impossible (measured recall 0.2 — all in-cluster candidates tie).
    Residual PQ (``ivfpq_topk``) only has to quantize the 3-pattern
    noise lattice, which 16 codewords represent exactly after Lloyd —
    measured recall 1.0. This is why the r12 IVFADC encodes residuals;
    on the zero-mean random gate corpus the two are statistically tied
    (residual/raw energy 0.93, no structure to exploit)."""
    from pyspark.sql import Window

    n_clusters, n, dim = 16, 320, 16
    rows = []
    for i in range(n):
        c = i % n_clusters
        center = [float(((c * 7919 + t * 104729) % 20001) - 10000)
                  for t in range(dim)]
        noise = [40.0 * (((i * 7 + t * 5) % 3) - 1) for t in range(dim)]
        rows.append((i, [center[t] + noise[t] for t in range(dim)]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)
    q = df.filter(F.col("vec_id") < 10)
    v = df.select("vec_id", F.col("embedding").alias("v"))
    a = v.join(
        q.select(F.col("vec_id").alias("query_id")),
        v.vec_id == F.col("query_id"),
    ).select("query_id", F.col("v").alias("qv"))
    b = v.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    d = (
        a.crossJoin(b).filter("query_id != neighbor_id")
        .withColumn("dist", F.expr(
            "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
            "cast(0.0 AS DOUBLE), (acc, e) -> acc + e)"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in d.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5").collect()
    }
    m, ks, iters = 8, 16, 2
    raw = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_adc_topk(
            df, q, k=5, dim=dim, m=m, ks=ks, iters=iters
        ).collect()
    }
    res = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(
            df, q, k=5, dim=dim, m=m, ks=ks, iters=iters,
            n_centroids=n_clusters, n_probe=n_clusters,
        ).collect()
    }
    raw_recall = len(exact & raw) / len(exact)
    res_recall = len(exact & res) / len(exact)
    assert res_recall >= 0.95, f"residual recall collapsed: {res_recall}"
    assert res_recall >= raw_recall + 0.5, (
        f"residual ({res_recall}) should dominate raw ({raw_recall}) "
        "on clustered data"
    )


def test_cms_counters_merge_by_addition(spark):
    """The property that makes a sketch a sketch: counters built over
    disjoint corpus shards, merged by per-(j,bucket) addition, equal the
    counters built over the whole corpus — so shard-local sketches (or
    per-micro-batch streaming state) compose without rescanning."""
    from osm_pbf_parquet_spark.operators.sketches import cms_sketch_counters

    docs = t(spark, SF_DIR, "documents")
    whole = {
        (r["j"], r["bucket"]): r["c"]
        for r in cms_sketch_counters(docs).collect()
    }
    merged: dict = {}
    for half in (docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")):
        for r in cms_sketch_counters(half).collect():
            k = (r["j"], r["bucket"])
            merged[k] = merged.get(k, 0) + r["c"]
    assert merged == whole


def test_pq_codebook_artifact_roundtrip_and_guards(spark, tmp_path):
    """The persisted codebook artifact must round-trip bit-exactly, and
    a corrupted artifact must raise, never decode into silently wrong
    codes (the engine's dimension-lesson discipline applied to the
    offline-train → online-encode handoff)."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    cb = similarity.pq_train_codebooks(iv, dim=64)
    path = str(tmp_path / "cb")
    similarity.write_pq_codebooks(spark, cb, path)
    assert similarity.read_pq_codebooks(spark, path, dim=64) == cb

    with pytest.raises(ValueError, match="expected dim"):
        similarity.read_pq_codebooks(spark, path, dim=32)
    # row loss -> the (j, cid) grid is no longer dense
    holed = str(tmp_path / "holed")
    spark.read.parquet(path).filter("NOT (j = 3 AND cid = 5)") \
        .write.parquet(holed)
    with pytest.raises(ValueError, match="dense"):
        similarity.read_pq_codebooks(spark, holed)
    # ragged codewords
    ragged = str(tmp_path / "ragged")
    spark.read.parquet(path).withColumn(
        "cv", F.expr("CASE WHEN j = 0 AND cid = 0 THEN slice(cv, 1, 2) "
                     "ELSE cv END")
    ).write.parquet(ragged)
    with pytest.raises(ValueError, match="ragged"):
        similarity.read_pq_codebooks(spark, ragged)


@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_ivfpq_index_search_equals_in_process(spark, tmp_path):
    """Serving from the persisted IVFADC index must return EXACTLY what
    the in-process composition returns — same trainers, same arithmetic,
    the artifact round-trip (write → cell-partition → read) loses
    nothing. Checked in both modes: pure ADC and exact re-rank."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    q = iv.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(iv, path)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(
        similarity.ivfpq_search_index(spark, path, q, k=5, rerank=40,
                                      rerank_corpus=iv)
    ) == rows(similarity.ivfpq_topk(iv, q, k=5, rerank=40))
    assert rows(
        similarity.ivfpq_search_index(spark, path, q, k=5)
    ) == rows(similarity.ivfpq_topk(iv, q, k=5))
    with pytest.raises(ValueError, match="rerank_corpus"):
        similarity.ivfpq_search_index(spark, path, q, k=5, rerank=40)


@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_ivfpq_index_append_composes(spark, tmp_path):
    """Appending in two disjoint batches equals appending the union in
    one (the add() path is batch-size-invariant), search sees every
    appended vector, and a wrong-dimension append fails loudly instead
    of writing silently wrong codes."""
    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    base, rest = iv.filter("vec_id % 5 != 0"), iv.filter("vec_id % 5 = 0")
    q = iv.filter(F.col("vec_id") < 8)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    similarity.build_ivfpq_index(base, one)
    similarity.ivfpq_index_append(spark, one, rest)
    similarity.build_ivfpq_index(base, two)
    similarity.ivfpq_index_append(spark, two, rest.filter("vec_id % 2 = 0"))
    similarity.ivfpq_index_append(spark, two, rest.filter("vec_id % 2 = 1"))
    import os
    n_total = iv.count()
    for p in (one, two):
        assert spark.read.parquet(os.path.join(p, "codes")).count() == n_total
    r1 = rows(similarity.ivfpq_search_index(spark, one, q, k=5, rerank=40,
                                            rerank_corpus=iv))
    r2 = rows(similarity.ivfpq_search_index(spark, two, q, k=5, rerank=40,
                                            rerank_corpus=iv))
    assert r1 == r2
    # appended vectors are actually searchable: every query is itself an
    # appendee's potential neighbor — assert at least one held-out
    # (vec_id % 5 == 0) id appears among the results
    assert any(nid % 5 == 0 for _, nid, _, _ in r1)

    bad = rest.withColumn("embedding", F.expr("slice(embedding, 1, 32)"))
    with pytest.raises(Exception, match="ivfpq_index_append"):
        similarity.ivfpq_index_append(spark, one, bad)


def test_ivf_centroid_artifact_guards(spark, tmp_path):
    """A corrupted coarse-quantizer artifact must raise, never serve
    silently wrong cells."""
    import os

    emb = t(spark, SF_DIR, "embeddings")
    iv = emb.withColumn("embedding", F.expr(
        "transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"))
    path = str(tmp_path / "ivfpq")
    built = similarity.build_ivfpq_index(iv, path)
    assert similarity.read_ivf_centroids(spark, path) == built["centroids"]

    holed = str(tmp_path / "holed")
    spark.read.parquet(os.path.join(path, "centroids")).filter(
        "cid != 3"
    ).write.parquet(os.path.join(holed, "centroids"))
    with pytest.raises(ValueError, match="dense"):
        similarity.read_ivf_centroids(spark, holed)
    with pytest.raises(ValueError, match="expected dim"):
        similarity.read_ivf_centroids(spark, path, dim=32)


def test_pq_contract_violations_fail_loudly(spark):
    """The pca dimension lesson, applied preemptively: a wrong `dim` or
    a too-small corpus must raise, not return silently-wrong codes
    (zip_with NULL-pads short slices into all-zero distance folds)."""
    emb = t(spark, SF_DIR, "embeddings").limit(20)
    with pytest.raises(ValueError, match="corpus vectors have length"):
        similarity.pq_train_codebooks(emb, dim=32, m=8, ks=4)
    with pytest.raises(ValueError, match="at least ks"):
        similarity.pq_train_codebooks(emb.limit(3), dim=64, m=8, ks=4)


@pytest.mark.slow  # r13 driver tier: operator keeps oracle-parity coverage; full tier runs this each round
def test_ivfpq_serve_stream_equals_batch_top1(spark, tmp_path):
    """Serve-on-arrival must answer EXACTLY what the batch index search
    answers: for each query, the streaming min-struct aggregate equals
    ``ivfpq_search_index``'s rk=1 row at rerank=None (ADC-nearest, the
    documented streaming contract — no rank window, no exact re-rank).
    Runs on a deterministic synthetic corpus so the equivalence is
    checked independently of the gate's tables."""
    import numpy as np
    from pyspark.sql import types as T

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.randint(-50, 50, 64)])
        for i in range(90)
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    iv = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "vecs")
    iv.write.parquet(src)
    path = str(tmp_path / "ivfpq")
    similarity.build_ivfpq_index(iv, path)

    batch = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"])
        for r in similarity.ivfpq_search_index(
            spark, path, iv.filter("vec_id < 6"), k=1
        ).drop("rk").collect()
    }
    qstream = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("vec_id") < 6)
    )
    served = similarity.ivfpq_serve_stream(spark, path, qstream)
    q = (
        served.writeStream.format("memory")
        .queryName("serve_eq_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["query_id"], r["neighbor_id"], r["adc_dist"])
        for r in spark.table("serve_eq_test").collect()
    }
    assert got == batch and len(got) == 6


def test_audio_energy_segments_known_boundaries(spark):
    """Hand-built WAV with a known activity pattern: 32 samples in 8-
    sample frames [loud, silent, loud, loud] must segment into exactly
    [frame 0] and [frames 2-3] — above-mean threshold, strict
    inequality, run merge. A silent-everywhere file yields no rows
    (all frames tie the mean). Pins the segmentation semantics the
    gate's oracle replays from synthesized payloads."""
    import struct

    from osm_pbf_parquet_spark.operators.multimodal import _wav_header

    def wav(frames):
        samples = [s for fr in frames for s in fr]
        return _wav_header(len(samples), 8000) + struct.pack(
            f"<{len(samples)}h", *samples
        )

    loud, silent = [1000] * 8, [0] * 8
    payloads = [
        (0, wav([loud, silent, loud, loud])),
        (1, wav([silent, silent, silent, silent])),
    ]
    media = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = sorted(
        map(tuple, multimodal.segment_audio_energy(media).collect())
    )
    e = 8 * 1000 * 1000  # per-loud-frame energy, exact
    assert got == [
        (0, 1, 0, 0, 1, e),
        (0, 2, 2, 3, 2, 2 * e),
    ]


def test_jl_projection_preserves_distance_in_expectation(spark):
    """The JL contract: with unscaled ±1 signs, E[d_proj] =
    out_dim·d_orig — the aggregate ratio over all gate pairs must land
    near 1 (the md5-derived matrix is fixed, so this is a deterministic
    pin of the projection's geometry, tolerance covering the variance
    of a 16-dim projection), and projecting a vector against itself is
    exactly zero."""
    from osm_pbf_parquet_spark.plans.pipeline_queries import (
        q_jl_distortion,
    )

    rows = q_jl_distortion(spark, SF_DIR).collect()
    assert len(rows) == 24 * 23 // 2
    num = sum(r["d_proj"] for r in rows)
    den = 16 * sum(r["d_orig"] for r in rows)
    assert 0.7 <= num / den <= 1.3
    iv = t(spark, SF_DIR, "embeddings").filter("vec_id < 3").withColumn(
        "embedding",
        F.expr("transform(embedding, x -> floor(cast(x AS DOUBLE) * 1000 + 0.5))"),
    )
    pr = {r["vec_id"]: r["proj"] for r in
          similarity.rp_project(iv).collect()}
    assert len(pr) == 3 and all(len(p) == 16 for p in pr.values())


def test_nn_descent_improves_on_structured_corpus(spark):
    """On a ring corpus — where every vector's true neighbors are its
    angular neighbors and any cell partition must cut the ring into
    arcs — one NN-Descent round must (a) never degrade any vector's
    rank-r cosine vs the single-partition cell graph (the candidate
    set contains those edges) and (b) strictly improve somewhere: the
    arc-boundary vectors' true neighbors sit in the adjacent arc,
    reachable only through the second partition + hop step. This is
    the structural property the random gate corpus can't exhibit
    (within-cell top-j is already optimal there)."""
    import math

    from pyspark.sql import types as T

    n = 48
    rows = []
    for i in range(n):
        th = 2 * math.pi * i / n
        rows.append((i, [float(round(1000 * math.cos(th))),
                         float(round(1000 * math.sin(th)))] + [0.0] * 62))
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    iv = spark.createDataFrame(rows, schema)
    base = {(r["src"], r["rk"]): r["cosine"]
            for r in similarity.knn_graph_cells(iv, j=3).collect()}
    ref = {(r["src"], r["rk"]): r["cosine"]
           for r in similarity.nn_descent_round(iv, j=3).collect()}
    # the union bootstrap can only ADD candidates: every base rank
    # survives, and vectors in small partition-A cells may gain ranks
    assert set(base) <= set(ref)
    eps = 1e-9  # both sides round to 6dp; tolerate the boundary
    assert all(ref[k] >= base[k] - eps for k in base)
    improved = sum(1 for k in base if ref[k] > base[k] + eps)
    assert improved > 0, "hop step recovered no cross-arc neighbor"
