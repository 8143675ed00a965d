"""Tests for the LLM-data operators: sketches verified against their
exact baselines (minhash vs token Jaccard, LSH-ANN vs brute force),
dedup semantics, text analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aquiles_etl_pipeline_spark.llmdata import (
    dedup,
    multimodal,
    sampling,
    similarity,
    textstats,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup(df)
    assert {r["doc_id"] for r in out.collect()} == {1, 3}


def test_minhash_finds_known_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, "completely unrelated words about spark catalyst optimizer plans"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_lsh_candidates(df, num_hashes=32, bands=8).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in found and found[(1, 2)] > 0.7
    assert (1, 3) not in found or found[(1, 3)] < 0.2

    surviving = dedup.minhash_dedup(df, threshold=0.7)
    assert {r["doc_id"] for r in surviving.collect()} == {1, 3}


def test_minhash_recall_against_exact_shingle_jaccard(spark, docs):
    """Sketch validation against the SAME similarity measure: exact
    3-word-shingle Jaccard computed by brute-force cross join (feasible
    at sf0.001) vs the banded-minhash candidate set.  At 8 bands × 4
    rows, P(candidate | s=0.9) ≈ 0.9998, so recall must be ~1.

    (Note: unigram-token Jaccard — ngram_jaccard_pairs — is a different
    measure: this word-soup corpus has near-identical token SETS but
    different sequences, so shingle near-dups are far rarer.)"""
    sh = docs.select("doc_id", dedup.word_shingles("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(inter.cast("double") / union >= 0.9)
        .collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(docs).where(F.col("jaccard") >= 0.9).collect()
    }
    # minhash verifies candidates with the same exact shingle Jaccard, so
    # candidates ∩ exact == candidates; recall is the real assertion
    assert cand <= exact
    if exact:
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(exact)} exact pairs"


def test_simhash_deterministic_and_near_dup_blocks(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "totally different content here nothing shared at all")],
        ["doc_id", "text"],
    )
    fp1 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    assert fp1 == fp2  # deterministic
    # 7/8 shared tokens → small hamming distance between 1 and 2
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_dups(df, max_hamming=16).collect()}
    assert (1, 2) in pairs


def test_lsh_ann_recall_vs_brute_force(spark, emb):
    qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    brute = [r["vec_id"] for r in similarity.brute_force_topk(emb, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.lsh_ann_topk(emb, qv, k=10).collect()]
    # the query vector itself must be its own nearest neighbor
    assert brute[0] == 0 and approx[0] == 0
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall@10 = {recall}"


def test_language_id_beats_chance(spark, docs):
    """The corpus is word-soup, so the heuristic can't be perfect — but
    it must be deterministic and structurally sane."""
    pred = textstats.identify_language(docs)
    rows = pred.collect()
    assert len(rows) == docs.count()
    assert set(r["predicted_lang"] for r in rows) <= set(textstats.STOPWORDS) | {"und"}


def test_quality_features_ranges(spark, docs):
    q = textstats.quality_features(docs).collect()
    for r in q:
        assert 0 <= r["punct_ratio"] <= 1
        assert 0 <= r["quality_score"] <= 1.001
        assert r["n_tokens"] > 0


def test_token_counts_and_fingerprint(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], ["doc_id", "text"])
    tc = textstats.token_counts(df).collect()[0]
    assert tc["ws_tokens"] == 4
    # Hello , world ! 4 2 times -> letter runs + single digits + punct
    assert tc["bpeish_tokens"] == 7
    fp = textstats.fingerprint(df).collect()[0]
    assert fp["content_sha256"] is not None and fp["fingerprint64"] is not None


def test_multimodal_plumbing(spark, tmp_path):
    # write fake "images", ingest via binaryFile, extract features
    media = tmp_path / "media"
    media.mkdir()
    (media / "a.png").write_bytes(b"\x89PNG fake image bytes A")
    (media / "b.jpg").write_bytes(b"\xff\xd8 fake jpeg B")
    (media / "c.wav").write_bytes(b"RIFF fake audio")
    df = multimodal.read_media_dir(spark, str(media))
    rows = {r["path"].split("/")[-1]: r for r in df.collect()}
    assert rows["a.png"]["media_type"] == "image"
    assert rows["c.wav"]["media_type"] == "audio"
    assert rows["b.jpg"]["length"] == len(b"\xff\xd8 fake jpeg B")

    feats = multimodal.extract_image_features(df.where(F.col("media_type") == "image"))
    out = {r["path"].split("/")[-1]: r for r in feats.collect()}
    assert len(out) == 2
    for r in out.values():
        assert 64 <= r["width"] <= 255 and 64 <= r["height"] <= 255
        assert r["channels"] == 3 and len(r["sha256"]) == 64
    # determinism: same bytes → same features
    feats2 = {r["path"].split("/")[-1]: r["width"]
              for r in multimodal.extract_image_features(df.where(F.col("media_type") == "image")).collect()}
    assert feats2 == {k: v["width"] for k, v in out.items()}


def test_real_decoder_is_explicit_seam():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"bytes")


def _make_png(width: int, height: int, color_type: int = 2) -> bytes:
    """Build a real, spec-valid PNG with stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    nch = {0: 1, 2: 3, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width * nch) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_image_header_parse_real_formats():
    import struct

    # PNG (real, decodable by any viewer)
    assert multimodal.parse_image_header(_make_png(320, 200)) == (320, 200, 3)
    assert multimodal.parse_image_header(_make_png(7, 9, color_type=6)) == (7, 9, 4)
    # GIF89a logical screen descriptor
    gif = b"GIF89a" + struct.pack("<HH", 640, 480) + b"\x00\x00\x00" + b"\x3b"
    assert multimodal.parse_image_header(gif) == (640, 480, 3)
    # BMP with BITMAPINFOHEADER, 24bpp, top-down (negative height)
    bmp = (
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 16, -8, 1, 24) + bytes(16)
    )
    assert multimodal.parse_image_header(bmp) == (16, 8, 3)
    # JPEG: SOI, APP0 stub, SOF0 (height=12, width=34, 3 components)
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 12, 34) + b"\x03" + bytes(6)
    )
    assert multimodal.parse_image_header(jpeg) == (34, 12, 3)
    # decode_image_real resolves real formats without PIL
    assert multimodal.decode_image_real(_make_png(320, 200)) == (320, 200, 3)
    # non-images fall through to None / NotImplementedError
    assert multimodal.parse_image_header(b"\x89PNG fake image bytes A") is None
    assert multimodal.parse_image_header(b"plain text") is None


def test_pixel_decode_with_pil_when_available():
    """Env-gated: when the environment provides PIL, decode_image_real
    must do a REAL pixel decode (verified width/height/channels from
    the decoded image), not just a header sniff.  Skipped where PIL is
    absent — the header-codec path above covers that environment."""
    pytest.importorskip("PIL")
    # a real 5x3 RGB PNG with actual pixel rows — PIL fully decodes it
    assert multimodal.decode_image_real(_make_png(5, 3)) == (5, 3, 3)
    assert multimodal.decode_image_real(_make_png(4, 2, color_type=6)) == (4, 2, 4)


def test_wav_header_parse_real_bytes(tmp_path):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(bytes(8000 * 2 * 2 * 3))  # 3 seconds of silence
    assert multimodal.parse_wav_header(buf.getvalue()) == (3, 8000, 2)
    assert multimodal.parse_wav_header(b"RIFF fake audio") is None


def test_image_features_use_real_headers(spark, tmp_path):
    media = tmp_path / "m"
    media.mkdir()
    (media / "real.png").write_bytes(_make_png(320, 200))
    (media / "junk.png").write_bytes(b"\x89PNG not really")
    df = multimodal.read_media_dir(spark, str(media))
    out = {r["path"].split("/")[-1]: r for r in
           multimodal.extract_image_features(df).collect()}
    assert (out["real.png"]["width"], out["real.png"]["height"]) == (320, 200)
    assert out["real.png"]["channels"] == 3
    # unknown payloads keep the deterministic fallback, never crash
    assert 64 <= out["junk.png"]["width"] <= 255


def test_audio_features_use_real_wav_header(spark, tmp_path):
    import io
    import wave

    media = tmp_path / "a"
    media.mkdir()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(bytes(16000 * 2 * 2))  # 2 seconds
    (media / "speech.wav").write_bytes(buf.getvalue())
    df = multimodal.read_media_dir(spark, str(media))
    row = multimodal.extract_audio_features(df).collect()[0]
    assert (row["duration_s"], row["sample_rate"], row["channels"]) == (2, 16000, 1)


def test_exact_cosine_pairs_matches_crossjoin(spark, emb):
    """Blocked-GEMM exact pairs == naive crossJoin pairs (same threshold)."""
    got = {
        (r["id_a"], r["id_b"])
        for r in similarity.exact_cosine_pairs(emb, threshold=0.3).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .where(similarity.cosine_sim(F.col("va"), F.col("vb")) >= 0.3)
        .collect()
    }
    assert got == want


def test_exact_cosine_pairs_multiblock_matches_single(spark, emb):
    """Cross-block tiles must emit exactly the pairs the single-tile
    (all-diagonal) case does — the triangle replication covers every
    pair once."""
    one = {
        (r["id_a"], r["id_b"])
        for r in similarity.exact_cosine_pairs(emb, threshold=0.3, n_blocks=1).collect()
    }
    many = {
        (r["id_a"], r["id_b"])
        for r in similarity.exact_cosine_pairs(emb, threshold=0.3, n_blocks=5).collect()
    }
    assert one == many and len(one) > 0


def test_exact_cosine_pairs_builds_lazily_no_driver_collect(spark, emb):
    """Scale guard (VERDICT r01): constructing the operator must launch
    NO Spark job — the round-1 version collected the whole vector table
    to the driver at build time.  (With n_blocks=None a single COUNT
    action sizes the tiling; that is a distributed aggregate, not a
    data collect — pinned here by passing n_blocks explicitly.)"""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    df = similarity.exact_cosine_pairs(emb, threshold=0.5, n_blocks=4)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "exact_cosine_pairs launched a job at build time"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, "tile GEMM not planned as a grouped map"


def test_exact_cosine_pairs_infers_its_eval_type(spark, emb):
    """The tile function's type hints are complete, so applyInPandas
    infers the grouped-map eval type instead of warning."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        similarity.exact_cosine_pairs(emb, threshold=0.5, n_blocks=2)
    assert not [w for w in caught if "Cannot infer the eval type" in str(w.message)]


def test_assign_splits_stable_and_proportional(spark, docs):
    out1 = {r["doc_id"]: r["split"] for r in sampling.assign_splits(docs).collect()}
    out2 = {r["doc_id"]: r["split"] for r in sampling.assign_splits(docs).collect()}
    assert out1 == out2  # content-stable, no RNG
    # appending new docs never moves existing ones
    half = docs.where(F.col("doc_id") % 2 == 0)
    sub = {r["doc_id"]: r["split"] for r in sampling.assign_splits(half).collect()}
    assert all(out1[k] == v for k, v in sub.items())
    from collections import Counter

    frac = Counter(out1.values())
    n = len(out1)
    assert 0.90 <= frac["train"] / n <= 0.995
    assert frac["val"] > 0 and frac["test"] > 0
    with pytest.raises(ValueError):
        sampling.assign_splits(docs, {"train": 50, "val": 20})


def test_pack_sequences_offsets_and_determinism(spark, docs):
    out = sampling.pack_sequences(docs, budget_tokens=128, n_shards=4).collect()
    assert len(out) == docs.count()
    # per shard: offsets form a contiguous token stream in (hash, id) order
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert set(by_shard) <= set(range(4))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["start_offset"])
        cum = 0
        for r in rows:
            assert r["start_offset"] == cum
            assert r["chunk_id"] == cum // 128
            end = cum + r["n_tokens"]
            assert r["spans_chunks"] == ((end - 1) // 128 > cum // 128)
            cum = end
    # deterministic: rerun is identical
    again = sampling.pack_sequences(docs, budget_tokens=128, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_quantize_embeddings_int8_range_and_error(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.quantize_embeddings_int8(emb).collect()
    assert len(rows) == emb.count()
    orig = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for r in rows:
        assert all(-127 <= q <= 127 for q in r["qvec"])
        # absmax scheme: per-element dequant error is bounded by scale/2
        assert r["recon_rmse"] <= r["scale"] / 2 + 1e-9
        v = orig[r["vec_id"]]
        k = max(range(len(v)), key=lambda i: abs(v[i]))
        assert abs(r["qvec"][k]) == 127  # the absmax element hits full range


def test_benchmark_decontamination_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # shares the 8-gram "alpha ... theta"
            (10, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"),
            (11, "completely different content with no shared spans at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in sampling.benchmark_ngram_overlap(train, bench, n=8).collect()}
    assert out[10]["contaminated"] and out[10]["n_overlapping_grams"] >= 1
    assert not out[11]["contaminated"] and out[11]["n_overlapping_grams"] == 0


def test_redact_pii_sentinels_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or call +1 (555) 123-4567 ok"),
            (2, "server 192.168.1.10 holds ssn 123-45-6789"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textstats.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert "<EMAIL>" in out[1]["redacted_text"] and "<PHONE>" in out[1]["redacted_text"]
    assert "a.b+c@test.org" not in out[1]["redacted_text"]
    assert out[2]["n_ipv4"] == 1 and out[2]["n_ssn"] == 1
    assert "<IPV4>" in out[2]["redacted_text"] and "<SSN>" in out[2]["redacted_text"]
    assert out[3]["redacted_text"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ipv4"] == out[3]["n_ssn"] == 0


def test_knn_join_matches_per_query_brute_force(spark, emb):
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 4)
    got = {}
    for r in similarity.knn_join(corpus, queries, k=5).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    for q in queries.collect():
        brute = {
            r["vec_id"]
            for r in similarity.brute_force_topk(
                corpus, [float(v) for v in q["embedding"]], k=5
            ).collect()
        }
        # same neighbor set up to round-4 score ties at the boundary
        assert len(got[q["query_id"]] & brute) >= 4, (q["query_id"], got, brute)


def test_ivf_topk_recall_vs_brute_force(spark, emb):
    qv = [float(v) for v in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    rest = emb.where(F.col("vec_id") != 0)
    brute = [r["vec_id"] for r in similarity.brute_force_topk(rest, qv, k=10).collect()]
    approx = [r["vec_id"] for r in similarity.ivf_topk(rest, qv, k=10).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.5, f"IVF recall@10 = {recall}"


def test_multimodal_audio_and_frame_sampling(spark, tmp_path):
    media = tmp_path / "media2"
    media.mkdir()
    (media / "a.wav").write_bytes(b"RIFF fake audio A" * 10)
    (media / "v.mp4").write_bytes(b"\x00\x00ftyp fake video" * 20)
    df = multimodal.read_media_dir(spark, str(media))

    audio = multimodal.extract_audio_features(df.where(F.col("media_type") == "audio"))
    arow = audio.collect()[0]
    assert arow["duration_s"] >= 1 and arow["sample_rate"] in (8000, 16000, 22000, 44000)

    frames = multimodal.sample_frames(df.where(F.col("media_type") == "video"), every_n_seconds=5)
    rows = frames.orderBy("frame_index").collect()
    assert len(rows) >= 1
    assert [r["frame_index"] for r in rows] == list(range(len(rows)))
    assert all(r["ts_offset_s"] == i * 5 for i, r in enumerate(rows))
    # deterministic: same input -> same frames
    again = multimodal.sample_frames(df.where(F.col("media_type") == "video"), every_n_seconds=5)
    assert [bytes(r["frame"]) for r in again.orderBy("frame_index").collect()] == [
        bytes(r["frame"]) for r in rows
    ]


def test_tfidf_top_terms_golden(spark):
    # "rare" appears twice in doc 1 and in no other doc -> top term there;
    # "common" appears everywhere -> idf 0, never outranks rarer tokens.
    df = spark.createDataFrame(
        [
            (1, "rare rare common alpha"),
            (2, "common alpha beta"),
            (3, "common beta gamma"),
        ],
        ["doc_id", "text"],
    )
    out = textstats.tf_idf_top_terms(df, k=2)
    rows = {(r.doc_id, r.token): r for r in out.collect()}
    assert out.count() == 6  # 2 per doc
    top1 = sorted(
        [r for r in rows.values() if r.doc_id == 1],
        key=lambda r: (-r.term_freq, r.doc_freq, r.token),
    )[0]
    assert top1.token == "rare" and top1.term_freq == 2 and top1.doc_freq == 1
    # idf of the everywhere-token is ln(3/3)=0
    assert float(rows[(2, "common")].tfidf) == 0.0 if (2, "common") in rows else True
    # tfidf of doc-1 "rare": 2 * ln(3/1)
    import math

    assert abs(float(top1.tfidf) - 2 * math.log(3)) < 1e-5


def test_connected_components_hand_graph(spark):
    """Chain 1-2-3 (diameter 2, needs >1 round), triangle 10-11-12,
    singleton 99 — labels are the min id of each component."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12, 99]], ["doc_id"])
    got = {
        r["_n"]: r["_comp"]
        for r in dedup.connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_dedup_clusters_canonical_election(spark):
    df = spark.createDataFrame(
        [
            (5, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),   # exact dup of 5 -> canonical
            (7, "alpha beta gamma delta epsilon"),   # exact dup
            (9, "totally unrelated other words here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_clusters(df, threshold=0.99).collect()}
    assert rows[2]["component_id"] == 2 and rows[2]["is_canonical"]
    assert rows[5]["component_id"] == 2 and not rows[5]["is_canonical"]
    assert rows[7]["cluster_size"] == 3
    assert rows[9]["component_id"] == 9 and rows[9]["cluster_size"] == 1


def test_dedup_clusters_null_text_stays_singleton(spark):
    """NULL-text docs must remain SINGLETON clusters: the exact-set
    collapse signature would otherwise render concat_ws(NULL) as ''
    and merge them with empty-text docs and each other, while pair
    mining (a NULL token array explodes to no rows) never connects
    them — the review-found conflation regression."""
    df = spark.createDataFrame(
        [
            (1, None),
            (2, None),                 # NULL twin of 1 — must NOT merge
            (3, ""),
            (4, ""),                   # empty-text docs DO pair (J=1 on {''})
            (5, "alpha beta gamma"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_clusters(df, threshold=0.9).collect()}
    assert rows[1]["component_id"] == 1 and rows[1]["cluster_size"] == 1
    assert rows[2]["component_id"] == 2 and rows[2]["cluster_size"] == 1
    assert rows[3]["component_id"] == 3 and rows[4]["component_id"] == 3
    assert rows[4]["cluster_size"] == 2
    assert rows[5]["cluster_size"] == 1


def test_stratified_sample_rates_and_nesting(spark, docs):
    """Rate accuracy (hash-uniform buckets) and the nested-sample
    property: the kept set at a lower rate is a subset of the kept set
    at a higher rate."""
    half = sampling.stratified_sample(docs, {"en": 5_000})
    full = sampling.stratified_sample(docs, {"en": 10_000})
    n_en = docs.where(F.col("lang") == "en").count()
    assert full.count() == n_en
    assert abs(half.count() / n_en - 0.5) < 0.15
    half_ids = {r["doc_id"] for r in half.collect()}
    full_ids = {r["doc_id"] for r in full.collect()}
    assert half_ids <= full_ids
    # unknown strata are dropped, rerun is identical
    assert sampling.stratified_sample(docs, {"xx": 10_000}).count() == 0
    assert {r["doc_id"] for r in sampling.stratified_sample(docs, {"en": 5_000}).collect()} == half_ids


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y x y")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    r1 = rows[1]  # tokens: a a a b; bigrams: "a a","a a","a b"
    assert (r1["n_tokens"], r1["n_distinct_tokens"], r1["top_token_freq"]) == (4, 2, 3)
    assert r1["top_token_frac"] == 0.75 and r1["dup_token_frac"] == 0.5
    assert (r1["n_bigrams"], r1["n_distinct_bigrams"], r1["top_bigram_freq"]) == (3, 2, 2)
    r2 = rows[2]  # bigrams: "x y","y x","x y"
    assert r2["dup_token_frac"] == 0.5
    assert r2["top_bigram_freq"] == 2 and r2["n_distinct_bigrams"] == 2


def test_chunk_dedup_drops_repeated_chunks(spark):
    # doc 1 and doc 2 share an identical 4-token chunk; chunk size 4
    rows = [
        (1, "a b c d e f g h"),           # chunks: [a b c d], [e f g h]
        (2, "a b c d x y z w"),           # first chunk duplicates doc 1's
        (3, "unique words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, chunk_tokens=4).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d e f g h"
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "x y z w"
    assert out[3]["n_kept"] == 1 and out[3]["clean_text"] == "unique words only here"


def test_c4_filters_gate_logic(spark):
    rows = [
        (1, "a good document with plenty of normal words inside"),
        (2, "too few"),                                   # enough_words fails
        (3, "code like function() { return x; } blocks"), # code marker
        (4, "lorem ipsum dolor sit amet filler text here"),
        (5, "word " + "x" * 60 + " more words here now"), # giant word
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in textstats.c4_document_filters(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["enough_words"] is False and out[2]["keep"] is False
    assert out[3]["no_code_marker"] is False and out[3]["keep"] is False
    assert out[4]["no_lorem"] is False and out[4]["keep"] is False
    assert out[5]["no_giant_word"] is False and out[5]["keep"] is False


def test_token_budget_sample_cap_per_group(spark):
    rows = [
        (1, "g1", "one two three"),        # 3 tokens, cum 3  -> kept
        (2, "g1", "four five six seven"),  # 4 tokens, cum 7  -> kept
        (3, "g1", "eight nine"),           # 2 tokens, cum 9  -> dropped (cap 8)
        (4, "g2", "a b c d e f g h"),      # 8 tokens, cum 8  -> kept exactly at cap
        (5, "g2", "i"),                    # cum 9 -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id int, source string, text string")
    out = {r["doc_id"]: r for r in
           sampling.token_budget_sample(df, budget_tokens=8).collect()}
    assert [out[i]["kept"] for i in (1, 2, 3, 4, 5)] == [True, True, False, True, False]
    assert out[3]["cum_tokens"] == 9 and out[4]["cum_tokens"] == 8


def test_vocab_coverage_known_counts(spark):
    rows = [(1, "a a b c"), (2, "a b b d")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["token"]: r for r in textstats.vocab_coverage(df, top_k=10).collect()}
    assert out["a"]["tf"] == 3 and out["a"]["df"] == 2 and out["a"]["rank"] == 1
    assert out["b"]["tf"] == 3 and out["b"]["rank"] == 2  # tie broken by token
    assert out["a"]["cum_coverage"] == pytest.approx(3 / 8, abs=1e-6)
    assert out["d"]["cum_coverage"] == pytest.approx(1.0, abs=1e-6)


def test_chunk_dedup_identity_when_no_duplicates(spark):
    """With globally unique tokens there are no duplicate chunks, so
    reassembly must reproduce the (lowercased) token stream exactly and
    keep every chunk — the lossless-reassembly invariant."""
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(rng.randint(1, 67))))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, chunk_tokens=7).collect()}
    for i, text in rows:
        assert out[i]["clean_text"] == text
        assert out[i]["n_kept"] == out[i]["n_chunks"]


def test_chunk_dedup_identical_docs_keep_first_only(spark):
    df = spark.createDataFrame(
        [(5, "x y z w v u t s"), (9, "x y z w v u t s")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in dedup.chunk_dedup(df, chunk_tokens=4).collect()}
    assert out[5]["n_kept"] == 2 and out[5]["clean_text"] == "x y z w v u t s"
    assert out[9]["n_kept"] == 0 and out[9]["clean_text"] == ""


def test_token_budget_kept_is_prefix_closed(spark, docs):
    """If a document is kept, every earlier document of its group is
    kept too (the running sum is monotone)."""
    out = sampling.token_budget_sample(docs, budget_tokens=400).collect()
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        by_group.setdefault(r["source"], []).append(r["kept"])
    for flags in by_group.values():
        assert flags == sorted(flags, reverse=True), "kept not prefix-closed"


def test_vocab_coverage_monotone_and_bounded(spark, docs):
    rows = textstats.vocab_coverage(docs, top_k=50).collect()
    rows.sort(key=lambda r: r["rank"])
    cov = [r["cum_coverage"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(cov, cov[1:])), "coverage not monotone"
    assert cov[-1] <= 1.0 + 1e-9
    tfs = [r["tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True), "rank not by descending tf"


def test_unigram_perplexity_known_values(spark):
    import math

    # corpus: 8 tokens total; p(a)=4/8, p(b)=2/8, p(c)=p(d)=1/8
    rows = [(1, "a a b c"), (2, "a a b d")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in textstats.unigram_perplexity(df).collect()}
    expect = -(2 * math.log(0.5) + math.log(0.25) + math.log(0.125)) / 4
    assert out[1]["neg_avg_logprob"] == pytest.approx(expect, abs=1e-6)
    assert out[1]["perplexity"] == pytest.approx(math.exp(expect), abs=1e-4)
    # doc 2 has the same count profile -> identical score
    assert out[2]["neg_avg_logprob"] == out[1]["neg_avg_logprob"]


def test_semantic_dedup_clusters_planted_copies(spark, emb):
    planted = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 3.0).alias("embedding"),
    )
    aug = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    ).unionByName(planted)
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(aug, threshold=0.95).collect()}
    for k in range(5):
        # scaled copy joins its source's component; source (min id) is canonical
        assert out[1000 + k]["component_id"] == out[k]["component_id"]
        assert out[k]["is_canonical"] and not out[1000 + k]["is_canonical"]
        assert out[k]["cluster_size"] >= 2


# ---------------------------------------------------------------------------
# URL canonicalization / domain analytics (llmdata.urls)
# ---------------------------------------------------------------------------

def test_canonical_url_edge_cases(spark):
    from aquiles_etl_pipeline_spark.llmdata import urls

    cases = [
        # (raw, expected canonical)
        ("HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&id=1#frag",
         "https://example.com/A/b?id=1"),
        ("http://example.com:80/", "http://example.com/"),
        ("https://sub.Example.com/path/", "https://sub.example.com/path"),
        ("https://example.com/?ref=abc", "https://example.com/"),
        ("https://example.com/p?a=1&fbclid=xyz&b=2", "https://example.com/p?a=1&b=2"),
        # 'pref=1' must NOT half-match the 'ref' tracker
        ("https://example.com/p?pref=1", "https://example.com/p?pref=1"),
        ("https://example.com", "https://example.com"),
    ]
    df = spark.createDataFrame(cases, "url string, expect string")
    out = df.select("expect", urls.canonical_url(F.col("url")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["expect"], f"{r['got']!r} != {r['expect']!r}"


def test_parse_urls_decomposition(spark):
    from aquiles_etl_pipeline_spark.llmdata import urls

    df = spark.createDataFrame(
        [(1, "HTTPS://WWW.a.b.Example.COM/en/doc/7/?utm_campaign=c&q=1")],
        "id int, url string",
    )
    row = urls.parse_urls(df).collect()[0]
    assert row["url_canonical"] == "https://a.b.example.com/en/doc/7?q=1"
    assert row["host"] == "a.b.example.com"
    assert row["domain"] == "example.com"
    assert row["path"] == "/en/doc/7"
    assert row["path_depth"] == 3
    assert row["n_query_params"] == 1


def test_domain_stats(spark):
    from aquiles_etl_pipeline_spark.llmdata import urls

    df = spark.createDataFrame(
        [(i, f"https://h{i % 2}.example.com/a/{i}") for i in range(4)]
        + [(9, "https://other.net/x")],
        "id int, url string",
    )
    out = {r["domain"]: r for r in urls.domain_stats(urls.parse_urls(df)).collect()}
    assert out["example.com"]["n_pages"] == 4
    assert out["example.com"]["n_hosts"] == 2
    assert out["other.net"]["n_pages"] == 1


# ---------------------------------------------------------------------------
# Length buckets / temperature mixture (llmdata.sampling)
# ---------------------------------------------------------------------------

def test_length_buckets_are_ordered_and_balanced(spark):
    rows = [(i, "g", "tok " * (i + 1)) for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id int, lang string, text string")
    out = sampling.length_buckets(df, n_buckets=4, group_col="lang").collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["n_tokens"])
    # equal-frequency: 16 docs / 4 buckets = 4 each
    assert {len(v) for v in by_bucket.values()} == {4}
    # monotone: every doc in bucket b is <= every doc in bucket b+1
    for b in range(1, 4):
        assert max(by_bucket[b]) <= min(by_bucket[b + 1])


def test_temperature_mixture_quota_properties(spark):
    # skewed groups: 64 / 16 / 4 docs; sqrt weights 8:4:2 -> quotas 4:2:1-ish
    rows = [(i, "big") for i in range(64)]
    rows += [(100 + i, "mid") for i in range(16)]
    rows += [(200 + i, "small") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = sampling.temperature_mixture_sample(df, target_docs=28, group_col="source")
    rows_out = out.collect()
    quota = {r["source"]: r["group_quota"] for r in rows_out}
    # integer allocation: floor(28 * w / sum_w) with w = 8e6, 4e6, 2e6
    assert quota == {"big": 16, "mid": 8, "small": 4}
    kept = [r for r in rows_out if r["kept"]]
    assert len(kept) == 28
    # flattening property: small group is upsampled relative to share
    assert quota["small"] / 4 > quota["big"] / 64
    # determinism: rerun yields the same kept set
    kept2 = {r["doc_id"] for r in out.collect() if r["kept"]}
    assert kept2 == {r["doc_id"] for r in kept}


def test_embedding_decontaminate_flags_planted_leak(spark, emb):
    bench = emb.where(F.col("vec_id") < 3)
    # training set: disjoint vectors, plus an exact scaled copy of bench vec 1
    leak = bench.where(F.col("vec_id") == 1).select(
        F.lit(9001).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    train = emb.where((F.col("vec_id") >= 3) & (F.col("vec_id") < 40)).unionByName(leak)
    out = {r["vec_id"]: r for r in
           similarity.embedding_decontaminate(train, bench, threshold=0.999).collect()}
    assert out[9001]["contaminated"] and out[9001]["max_benchmark_cos"] == 1.0
    flagged = [v for v, r in out.items() if r["contaminated"]]
    assert flagged == [9001]


def test_embedding_decontaminate_empty_benchmark_keeps_all_rows(spark, emb):
    """No benchmark vectors ≠ no training vectors: every training row
    must come back contaminated=false with a null max similarity."""
    train = emb.where(F.col("vec_id") < 10)
    bench = emb.where(F.lit(False))
    out = {r["vec_id"]: r for r in
           similarity.embedding_decontaminate(train, bench).collect()}
    assert len(out) == train.count()
    assert all(not r["contaminated"] for r in out.values())
    assert all(r["max_benchmark_cos"] is None for r in out.values())


def test_snapshot_diff_classifies_all_states(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r["status"] for r in dedup.snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "deleted", 4: "added"}
    # whitespace/case normalization: not a content change
    new2 = spark.createDataFrame([(1, "  ALPHA ")], "doc_id int, text string")
    out2 = {r["doc_id"]: r["status"]
            for r in dedup.snapshot_diff(old.where("doc_id = 1"), new2).collect()}
    assert out2 == {1: "unchanged"}


# ---------------------------------------------------------------------------
# JSONL source/sink (sources.jsonl)
# ---------------------------------------------------------------------------

def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aquiles_etl_pipeline_spark.sources import jsonl

    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(1, 'quoted "text" with\nnewline'), (2, "unicode: ñandú 日本語  ")],
        schema,
    )
    out = tmp_path / "out"
    jsonl.write_jsonl(df, str(out), compression="gzip", shards=2)
    back = jsonl.read_jsonl(spark, str(out), schema)
    got = {r["id"]: r["text"] for r in back.collect()}
    assert got == {r["id"]: r["text"] for r in df.collect()}

    # malformed lines are captured, not fatal; default read drops them
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "a.jsonl").write_text(
        '{"id": 1, "text": "ok"}\nNOT JSON AT ALL\n{"id": 2, "text": "also ok"}\n'
    )
    clean = jsonl.read_jsonl(spark, str(bad), schema)
    assert sorted(r["id"] for r in clean.collect()) == [1, 2]
    kept = jsonl.read_jsonl(spark, str(bad), schema, keep_corrupt=True)
    corrupt = [r for r in kept.collect() if r[jsonl.CORRUPT_COL] is not None]
    assert len(corrupt) == 1 and corrupt[0][jsonl.CORRUPT_COL] == "NOT JSON AT ALL"


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(x)) == canonical(x): canonicalization must be
    a projection onto its own image, or URL-dedup keys drift when a
    pipeline re-normalizes already-clean data."""
    from aquiles_etl_pipeline_spark.llmdata import urls

    d = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id int"
    ).select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".Example.COM:443/p"), F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=x&a=1")).otherwise(F.lit("/")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#f")).otherwise(F.lit("")),
        ).alias("url"),
    )
    once = urls.canonical_url(F.col("url"))
    twice = urls.canonical_url(urls.canonical_url(F.col("url")))
    bad = d.select(once.alias("a"), twice.alias("b")).where(F.col("a") != F.col("b"))
    assert bad.count() == 0


def test_html_to_text_extraction(spark):
    cases = [
        # script content with '<' in code must vanish entirely
        ("<html><script>if (1 < 2) alert('x')</script><p>Hello</p></html>", "Hello"),
        ("<style>p { color: red }</style><b>bold</b> text", "bold text"),
        ("<!-- comment --><p>a</p><p>b</p>", "a b"),
        ("5 &lt; 6 &amp;&amp; 7 &gt; 6", "5 < 6 && 7 > 6"),
        ("x&nbsp;&nbsp;y", "x y"),
        ("<div><span>no</span>space<em>glue</em></div>", "no space glue"),
        ("plain text untouched", "plain text untouched"),
    ]
    df = spark.createDataFrame(cases, "html string, expect string")
    out = df.select("expect", textstats.html_to_text(F.col("html")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["expect"], f"{r['got']!r} != {r['expect']!r}"


def test_nfc_normalize_composes(spark):
    df = spark.createDataFrame(
        [(1, "café"), (2, "café"), (3, "Å"), (4, None)],
        "id int, t string",
    )
    out = {r["id"]: r["n"] for r in
           df.select("id", textstats.nfc_normalize(F.col("t")).alias("n")).collect()}
    assert out[1] == out[2] == "café"   # decomposed composes to precomposed
    assert out[3] == "Å"                 # angstrom sign -> A-with-ring
    assert out[4] is None


def test_dataset_shards_deterministic_with_manifest(spark, tmp_path):
    from aquiles_etl_pipeline_spark.sources import jsonl

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    out = tmp_path / "rel"
    m1 = jsonl.write_dataset_shards(docs, str(out), n_shards=4, key_col="doc_id")
    assert sum(s["n_rows"] for s in m1) == docs.count()
    assert len(m1) == 4 and all(s["n_rows"] > 0 for s in m1)
    assert (out / "_MANIFEST.json").exists()
    # deterministic: rewriting yields identical shard assignment
    out2 = tmp_path / "rel2"
    m2 = jsonl.write_dataset_shards(docs, str(out2), n_shards=4, key_col="doc_id")
    assert [s["n_rows"] for s in m1] == [s["n_rows"] for s in m2]
    # row-level check: shard of a doc equals pmod(xxhash64(doc_id), 4)
    back = jsonl.read_jsonl(
        spark, str(out / "_shard=0"),
        docs.schema,
    )
    ids = [r["doc_id"] for r in back.collect()]
    expect = {
        r["doc_id"]
        for r in docs.select(
            "doc_id",
        ).withColumn("s", F.pmod(F.xxhash64("doc_id"), F.lit(4))).where("s = 0").collect()
    }
    assert set(ids) == expect


def test_distributed_kmeans_trains_and_improves(spark, emb):
    import numpy as np

    c = similarity.kmeans_train_distributed(emb, n_cells=8, iters=3)
    assert c.shape[1] == 64
    # centroids are unit vectors
    assert np.allclose(np.linalg.norm(c, axis=1), 1.0)
    # deterministic across reruns
    c2 = similarity.kmeans_train_distributed(emb, n_cells=8, iters=3)
    assert np.allclose(c, c2)
    # training improves mean cosine-to-assigned-centroid vs init (iters=0)
    c0 = similarity.kmeans_train_distributed(emb, n_cells=8, iters=0)
    x = np.asarray([r["embedding"] for r in emb.select("embedding").collect()], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    q0 = np.max(xn @ c0.T, axis=1).mean()
    q3 = np.max(xn @ c.T, axis=1).mean()
    assert q3 >= q0 - 1e-12
    # assignment column matches numpy argmax
    cells = {r["vec_id"]: r["cell"] for r in
             similarity.assign_cells(emb, c).select("vec_id", "cell").collect()}
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    expect = np.argmax(xn @ c.T, axis=1)
    got = np.array([cells[i] for i in ids])
    assert (got == expect).all()


def _make_minimal_mp4(duration_s=42, timescale=1000, n_tracks=2, version=0):
    """Hand-assembled ISO BMFF: ftyp + moov(mvhd + n trak stubs)."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    if version == 0:
        mvhd_payload = (
            bytes([0, 0, 0, 0])            # version 0 + flags
            + struct.pack(">II", 0, 0)     # ctime, mtime
            + struct.pack(">I", timescale)
            + struct.pack(">I", duration_s * timescale)
            + b"\x00" * 80
        )
    else:
        mvhd_payload = (
            bytes([1, 0, 0, 0])
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration_s * timescale)
            + b"\x00" * 80
        )
    traks = b"".join(box(b"trak", b"\x00" * 16) for _ in range(n_tracks))
    moov = box(b"moov", box(b"mvhd", mvhd_payload) + traks)
    return ftyp + moov + box(b"mdat", b"\x00" * 32)


def test_parse_mp4_header_real_bytes(spark):
    mp4 = _make_minimal_mp4(duration_s=42, timescale=1000, n_tracks=2)
    assert multimodal.parse_mp4_header(mp4) == (42, 1000, 2)
    mp4v1 = _make_minimal_mp4(duration_s=7, timescale=600, n_tracks=1, version=1)
    assert multimodal.parse_mp4_header(mp4v1) == (7, 600, 1)
    assert multimodal.parse_mp4_header(b"not a video at all") is None
    assert multimodal.parse_mp4_header(b"") is None


def test_parse_mp4_truncated_v1_mvhd_is_rejected(spark):
    """A v1 mvhd whose payload stops short of the 32 bytes the v1
    layout reads must yield no duration (not a struct.error, and not a
    silent misread of neighboring bytes as duration)."""
    import struct

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    # v1 marker but only 28 payload bytes — truncated inside duration
    short_mvhd = bytes([1, 0, 0, 0]) + struct.pack(">QQ", 0, 0) + struct.pack(">I", 600)
    moov = box(b"moov", box(b"mvhd", short_mvhd))
    blob = box(b"ftyp", b"isom\x00\x00\x02\x00") + moov
    assert multimodal.parse_mp4_header(blob) is None


def test_sample_frames_uses_real_mp4_duration(spark):
    mp4 = _make_minimal_mp4(duration_s=35, timescale=1000)
    df = spark.createDataFrame([("v.mp4", mp4)], "path string, content binary")
    frames = multimodal.sample_frames(df, every_n_seconds=10).collect()
    # duration 35s sampled every 10s -> offsets 0,10,20,30
    assert [r["ts_offset_s"] for r in sorted(frames, key=lambda r: r["frame_index"])] \
        == [0, 10, 20, 30]


def test_parse_webp_and_flac_headers(spark):
    import struct

    # lossy VP8: RIFF header + 'VP8 ' chunk: 3-byte frame tag,
    # 3-byte start code 9d 01 2a, then LE u16 dims
    vp8_data = b"\x00" * 3 + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240)
    webp = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8_data)) + b"WEBP"
            + b"VP8 " + struct.pack("<I", len(vp8_data)) + vp8_data)
    assert multimodal.parse_image_header(webp) == (320, 240, 3)

    # lossless VP8L: signature 0x2f + 14-bit (w-1), 14-bit (h-1), alpha bit
    w, h = 100, 50
    bits = (w - 1) | ((h - 1) << 14) | (1 << 28)
    vp8l_data = bytes([0x2F]) + struct.pack("<I", bits)
    webpl = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8l_data) + 8) + b"WEBP"
             + b"VP8L" + struct.pack("<I", len(vp8l_data)) + vp8l_data + b"\x00" * 8)
    assert multimodal.parse_image_header(webpl) == (100, 50, 4)

    # FLAC STREAMINFO: 44.1kHz stereo, 88200 samples = 2s
    sample_rate, channels, total = 44100, 2, 88200
    bits = (sample_rate << 44) | ((channels - 1) << 41) | ((16 - 1) << 36) | total
    streaminfo = b"\x00" * 10 + bits.to_bytes(8, "big") + b"\x00" * 16
    flac = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    assert multimodal.parse_flac_header(flac) == (2, 44100, 2)
    assert multimodal.parse_flac_header(b"RIFFnotflac" * 5) is None


def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    out = sorted(
        sampling.chunk_documents(df, chunk_tokens=4, overlap_tokens=2).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 2 over 10 tokens -> starts 0,2,4,6,8
    assert [r["chunk_idx"] for r in out] == [0, 1, 2, 3, 4]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"] == "w2 w3 w4 w5"   # 2-token overlap
    assert out[4]["chunk_text"] == "w8 w9"          # short tail window
    assert [r["n_tokens"] for r in out] == [4, 4, 4, 4, 2]
    with pytest.raises(ValueError):
        sampling.chunk_documents(df, chunk_tokens=4, overlap_tokens=4)


def test_url_dedup_collapses_variants(spark):
    from aquiles_etl_pipeline_spark.llmdata import urls

    df = spark.createDataFrame(
        [
            (1, "https://example.com/a"),
            (2, "HTTPS://WWW.Example.COM:443/a?utm_source=x"),   # same page
            (3, "https://example.com/a#frag"),                    # same page
            (4, "https://example.com/b"),
            (5, "https://example.com/a?real=1"),                  # different page
        ],
        "doc_id int, url string",
    )
    out = {r["doc_id"] for r in urls.url_dedup(df).collect()}
    assert out == {1, 4, 5}


def test_incremental_dedup_across_batches_with_warehouse(spark, tmp_path):
    """Two ingest batches deduped incrementally against a persisted
    content-hash index must equal deduping the union in one shot."""
    from aquiles_etl_pipeline_spark.merge import Warehouse

    wh = Warehouse(spark, tmp_path / "idx")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id int, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma")], "doc_id int, text string"
    )
    fresh1, seen1 = dedup.incremental_dedup(b1, None)
    wh.overwrite("content_index", seen1)
    fresh2, seen2 = dedup.incremental_dedup(b2, wh.read("content_index"))
    wh.overwrite("content_index", seen2)
    assert {r["doc_id"] for r in fresh1.collect()} == {1, 2}
    # 'beta' was seen in batch 1; gamma deduped within batch 2
    assert {r["doc_id"] for r in fresh2.collect()} == {11}
    # the persisted index now covers all three distinct contents
    assert wh.read("content_index").count() == 3
    # equivalence with one-shot dedup over the union
    union_kept = {r["doc_id"] for r in dedup.exact_dedup(b1.unionByName(b2)).collect()}
    assert union_kept == {1, 2, 11}


def _brute_winnow(toks: list[str], k: int, w: int) -> set[str]:
    """Direct rightmost-min-per-window winnowing (virtual +inf padding
    before the doc start), the definition the R+L formula must match."""
    import hashlib

    grams = [
        " ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1))
    ]
    hs = [hashlib.md5(g.encode()).hexdigest()[:16] for g in grams]
    sel = set()
    for i in range(len(hs)):
        lo = max(0, i - w + 1)
        m = min(hs[lo : i + 1])
        sel.add(m)  # rightmost-min shares the hash value of the min
    return sel


@pytest.mark.parametrize("k,w", [(2, 3), (5, 4), (1, 2)])
def test_winnow_fingerprints_match_brute_force(spark, k, w):
    """The lead/lag R+L selection must equal the direct every-window
    rightmost-min definition on adversarial tiny-vocab docs (ties,
    short docs, empty docs all exercised)."""
    import random

    rng = random.Random(k * 100 + w)
    docs = [
        (i, " ".join(rng.choice("a b c".split()) for _ in range(rng.randint(0, 15))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = dedup.winnow_fingerprints(df, k=k, window=w)
    by_doc: dict[int, set] = {}
    for r in got.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    for i, text in docs:
        expect = _brute_winnow(text.lower().split(), k, w)
        assert by_doc.get(i, set()) == expect, f"doc {i}: {text!r}"


def test_winnow_guarantee_and_pairs(spark):
    """A shared run of k+w-1 tokens must yield a shared fingerprint
    (the winnowing guarantee), and winnow_shared_pairs reports it."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1
    df = spark.createDataFrame(
        [
            (1, "one two " + shared + " three four five six seven"),
            (2, "nine ten eleven " + shared + " twelve thirteen"),
            (3, "completely unrelated words with no common run at all"),
        ],
        "doc_id int, text string",
    )
    fp = dedup.winnow_fingerprints(df, k=5, window=4)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_fp"]
        for r in dedup.winnow_shared_pairs(fp, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_dsir_importance_ranks_target_like_docs_first(spark):
    """A raw-pool doc written in the target corpus's vocabulary must
    outscore one written in the raw pool's own majority vocabulary,
    and the weight must be length-invariant (normalized)."""
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(5)],
        "doc_id int, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),          # target-like
            (2, "zebra yak zebra walrus"),          # raw-majority words
            (3, "zebra yak walrus xerus quokka zebra yak walrus"),
            (4, "alpha beta alpha gamma alpha beta alpha gamma"),  # 2x doc 1
        ],
        "doc_id int, text string",
    )
    out = sampling.dsir_importance_select(raw, target, top_k=4).collect()
    ranks = [r["doc_id"] for r in out]
    scores = {r["doc_id"]: r["avg_logratio"] for r in out}
    assert ranks.index(1) < ranks.index(2)
    assert ranks.index(4) < ranks.index(2)
    # length-normalization: doubling a doc leaves its avg unchanged
    assert scores[1] == scores[4]
    assert scores[1] > max(scores[2], scores[3])


def test_incremental_near_dups_cross_batch(spark):
    """Batch 2 rows near-duplicating an INDEXED batch-1 doc drop;
    genuinely new rows survive; the first batch passes through whole
    and only returns its band rows for the index."""
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep dark forest to hide from every hunter"
    )
    b1 = spark.createDataFrame([(2, base), (4, "completely different "
        "subject matter about oceans tides and the phases of the moon "
        "pulling water across the shore line every single day")],
        "doc_id int, text string")
    # 11: one-word edit of doc 2 (high Jaccard -> drop); 13: unrelated
    b2 = spark.createDataFrame(
        [(11, base.replace("hunter", "wolf")),
         (13, "a totally novel document with no overlap whatsoever in "
              "its shingle vocabulary compared to anything indexed yet "
              "so it must always be kept by the filter")],
        "doc_id int, text string")
    fresh1, bands1 = dedup.incremental_near_dups(b1, None, None, bands=16)
    assert {r["doc_id"] for r in fresh1.collect()} == {2, 4}
    assert set(bands1.columns) == {"doc_id", "band_id", "band_hash"}
    fresh2, bands2 = dedup.incremental_near_dups(
        b2, bands1, b1.select("doc_id", "text"), bands=16
    )
    assert {r["doc_id"] for r in fresh2.collect()} == {13}
    # only SURVIVORS index (per-doc x per-band grain): the dropped
    # near-dup 11 must NOT enter the index, or a later doc matching
    # only 11 would be rejected despite matching nothing released
    assert {r["doc_id"] for r in bands2.collect()} == {13}
    assert bands2.count() == 1 * 16


def test_resize_images_geometry_and_fallbacks(spark):
    """Aspect-preserving downscale: long side pinned to max_side with
    floor division, no upscaling, undecodable rows pass through with
    null dims, and the stub payload is deterministic per (bytes, dims)."""
    rows = [
        ("big", _make_png(400, 100)),    # downscale 4x -> 64x16
        ("tall", _make_png(10, 300)),    # floor(10*64/300)=2 -> 2x64
        ("small", _make_png(40, 20)),    # under max_side -> untouched
        ("junk", b"not an image"),       # undecodable -> nulls
    ]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {r["path"]: r for r in multimodal.resize_images(df, max_side=64).collect()}
    assert (out["big"]["target_width"], out["big"]["target_height"]) == (64, 16)
    assert (out["tall"]["target_width"], out["tall"]["target_height"]) == (2, 64)
    assert (out["small"]["target_width"], out["small"]["target_height"]) == (40, 20)
    assert out["junk"]["width"] is None and out["junk"]["resized"] is None
    # deterministic: same bytes + dims -> same resized payload
    out2 = {r["path"]: r for r in multimodal.resize_images(df, max_side=64).collect()}
    assert out2["big"]["resized"] == out["big"]["resized"]
