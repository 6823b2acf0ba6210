"""Dedup (exact/minhash/simhash/ngram) + ANN similarity search operators."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from medical_ocr_service_spark.operators import dedup, similarity_search, text_analysis


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "a completely different document about spark query optimization and shuffles",
        "medical order processing requires patient identification and code matching",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i * 10, t))                        # original
        rows.append((i * 10 + 1, t))                    # exact dup
        toks = t.split()
        toks[len(toks) // 2] = "CHANGED"
        rows.append((i * 10 + 2, " ".join(toks)))       # near dup (1 token)
    rows.append((99, "tiny"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(dup_docs):
    # bands=32 (2 rows/band): collision prob for jaccard 0.5 is
    # 1-(1-0.25)^32 ≈ 0.9999 — deterministic-in-practice candidate recall
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "text", "doc_id", n_hashes=64, bands=32, shingle_k=3,
        jaccard_threshold=0.33,
    ).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    # exact dups always pair; near-dups (1 token changed, shingle_k=3) too
    for b in (0, 10, 20):
        assert (b, b + 1) in got
        assert (b, b + 2) in got or (b + 1, b + 2) in got
    # unrelated docs never pair
    assert not any(a // 10 != b // 10 for a, b in got)


def test_minhash_exact_dup_jaccard_is_one(dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "text", "doc_id", shingle_k=3, jaccard_threshold=0.99
    ).toPandas()
    exact = {(r.id_a, r.id_b): r.jaccard for r in pairs.itertuples()}
    for b in (0, 10, 20):
        assert exact[(b, b + 1)] == 1.0


def test_simhash_near_pairs(dup_docs):
    # max_hamming=3 is the completeness bound of the 4x15-bit banding; the
    # r5-consolidated path (banded_hamming_pairs) rejects a larger radius
    # instead of silently under-recalling like the pre-r5 inline copy did.
    pairs = dedup.simhash_near_pairs(dup_docs, "text", "doc_id", max_hamming=3).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    for b in (0, 10, 20):
        assert (b, b + 1) in got  # exact dup -> hamming 0
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples()}
    for b in (0, 10, 20):
        assert ham[(b, b + 1)] == 0


def test_simhash_near_pairs_rejects_incomplete_radius(dup_docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="only complete"):
        dedup.simhash_near_pairs(dup_docs, "text", "doc_id", max_hamming=10)


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    q = rows[0]["embedding"]
    ours = similarity_search.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), q, k=5
    ).toPandas()

    M = np.array([r["embedding"] for r in rows[1:]], dtype=np.float64)
    qv = np.array(q, dtype=np.float64)
    sims = M @ qv / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    ids = np.array([r["vec_id"] for r in rows[1:]])
    order = np.lexsort((ids, -np.round(sims, 6)))[:5]
    assert list(ours["vec_id"]) == [int(ids[i]) for i in order]


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    res = similarity_search.lsh_topk(emb.filter(F.col("vec_id") != 0), q, k=5, n_planes=4)
    out = res.toPandas()
    assert 0 < len(out) <= 5
    # the query's own bucket must contain its nearest LSH-visible neighbors:
    # every returned similarity is a real cosine in [-1, 1]
    assert out["cos_sim"].between(-1.0, 1.0).all()


def test_ivf_full_probe_is_exact(spark, sf_dir):
    """Probing every inverted list must reproduce the brute-force top-k."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = similarity_search.brute_force_topk(rest, list(q), k=10).toPandas()
    ivf = similarity_search.ivf_topk(
        rest, list(q), k=10, n_list=8, n_probe=8, n_iters=1
    ).toPandas()
    assert list(ivf["vec_id"]) == list(exact["vec_id"])


def test_ivf_partial_probe_recall_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = set(
        similarity_search.brute_force_topk(rest, list(q), k=10).toPandas()["vec_id"]
    )
    runs = [
        similarity_search.ivf_topk(
            rest, list(q), k=10, n_list=8, n_probe=4, n_iters=2
        ).toPandas()
        for _ in range(2)
    ]
    # deterministic across runs (seed-free md5 init + fixed Lloyd iterations)
    assert list(runs[0]["vec_id"]) == list(runs[1]["vec_id"])
    # probing the 4 nearest of 8 lists keeps most true neighbors
    recall = len(set(runs[0]["vec_id"]) & exact) / 10
    assert recall >= 0.6, recall


def test_cosine_near_pairs_self_duplicates(spark):
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.99, 0.14, 0.0, 0.0]), (4, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity_search.cosine_near_pairs(emb, threshold=0.95, n_planes=4).toPandas()
    got = {(r.id_a, r.id_b) for r in pairs.itertuples()}
    assert (1, 2) in got
    assert (3, 4) not in got and (1, 4) not in got


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat is one of the animals that live in the house"),
        (2, "el gato es uno de los animales que viven en la casa"),
        (3, "zzz qqq www"),
        # tie: "est" is a French stopword, "is"/"that" English — craft equal
        # scores: one hit each -> tie breaks to alphabetically-first lang
        (4, "is est"),
        # row 2's words separated by tabs, newlines and runs of spaces
        (5, "el\tgato es\nuno de los\r\nanimales que  viven en\t\tla casa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text_analysis.lang_id(df, "text").toPandas().set_index("doc_id")
    assert out.loc[1, "lang_guess"] == "en"
    assert out.loc[2, "lang_guess"] == "es"
    assert out.loc[3, "lang_guess"] == "und"
    assert out.loc[4, "score_en"] == out.loc[4, "score_fr"] == 1
    assert out.loc[4, "lang_guess"] == "en"  # ascending-name tie-break
    assert out.loc[5, "lang_guess"] == "es"
    assert out.loc[5, "score_es"] == out.loc[2, "score_es"] == 6


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "alpha  beta   gamma delta epsilon zeta eta theta iota kappa"),
         (3, "totally different words here for the fingerprint check ok")],
        "doc_id long, text string",
    )
    out = (
        df.select("doc_id", text_analysis.fingerprint(F.col("text")).alias("fp"))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "fp"] == out.loc[2, "fp"]
    assert out.loc[1, "fp"] != out.loc[3, "fp"]


def test_multimodal_plumbing(spark):
    from medical_ocr_service_spark.operators import multimodal

    media = multimodal.synthesize_media(spark, 60)
    feats = multimodal.decode_features(media, fake=True).toPandas()
    assert len(feats) == 60
    assert feats["feat"].map(len).eq(16).all()
    imgs = feats[feats["kind"] == "image"]
    assert (~imgs["valid"]).sum() > 0  # some images fail the dimension gate
    # determinism: same payload -> same features
    feats2 = multimodal.decode_features(media, fake=True).toPandas()
    assert feats.sort_values("media_id")["sha256"].tolist() == feats2.sort_values("media_id")["sha256"].tolist()

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|decoding"):
        multimodal.decode_features(media, fake=False).collect()


def test_bmp_decode_encode_roundtrip_and_resize(spark):
    import numpy as np

    from medical_ocr_service_spark.operators import multimodal as mm

    payload = mm.gradient_bmp(257, 123, seed=3)  # odd width exercises stride pad
    w, h, arr = mm.decode_bmp(payload)
    assert (w, h) == (257, 123) and arr.shape == (123, 257, 3)
    # encode/decode roundtrip is pixel-exact
    w2, h2, arr2 = mm.decode_bmp(mm.encode_bmp(arr))
    assert (w2, h2) == (w, h) and np.array_equal(arr, arr2)
    small = mm.resize_nearest(arr, 64, 32)
    assert small.shape == (32, 64, 3)
    # corners preserved by nearest-neighbor
    assert np.array_equal(small[0, 0], arr[0, 0])


def test_real_bmp_features_and_metadata_check(spark):
    from medical_ocr_service_spark.operators import multimodal as mm

    media = mm.synthesize_media(spark, 60)
    bmp = media.filter("mime = 'image/bmp'")
    assert bmp.count() > 0
    # REAL decode path works without fake=True
    feats = mm.decode_features(bmp, fake=False).toPandas()
    assert feats["valid"].all()
    assert feats["feat"].map(len).eq(16).all()
    # features reflect actual pixels: all in [0,1], dims scaled in slots 0-1
    assert feats["feat"].map(lambda f: all(0 <= x <= 1 for x in f)).all()

    # lying metadata is caught against the decoded raster
    lied = bmp.limit(1).withColumn("width", F.lit(9999))
    out = mm.decode_features(lied, fake=False).toPandas()
    assert not out.iloc[0]["valid"]
    assert out.iloc[0]["error"] == "METADATA_DIMENSION_MISMATCH"


def test_compress_images_shrinks_oversized_bmp(spark):
    from medical_ocr_service_spark.operators import multimodal as mm

    big = mm.gradient_bmp(1200, 900, seed=1)  # ~3.2 MB raster
    media = spark.createDataFrame(
        [("big", "image", "image/bmp", big, 1200, 900, None),
         ("ok", "image", "image/bmp", mm.gradient_bmp(200, 200, 2), 200, 200, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    out = (
        mm.compress_images(media, max_bytes=1_000_000)
        .toPandas()
        .set_index("media_id")
    )
    assert len(out.loc["big", "payload"]) <= 1_000_000
    assert out.loc["big", "width"] == 600 and out.loc["big", "height"] == 450
    w, h, _ = mm.decode_bmp(bytes(out.loc["big", "payload"]))
    assert (w, h) == (600, 450)
    # under-threshold image untouched
    assert out.loc["ok", "width"] == 200 and len(out.loc["ok", "payload"]) == len(
        mm.gradient_bmp(200, 200, 2)
    )


def test_repetition_features(spark, tmp_path):
    """Repetition signals, and the repetition_quality query equal to its
    DuckDB oracle on one-token, empty, whitespace-padded and NULL texts
    (none of which may fail the query under ANSI mode)."""
    texts = [
        "spam spam spam spam spam spam",
        "all words here are fully distinct tokens",
        "hello",
        "",
        "  x  ",
        None,
    ]
    pd.DataFrame({"doc_id": range(1, 7), "text": texts}).to_parquet(
        tmp_path / "documents.parquet"
    )
    ours = (
        entry_mod.queries()["repetition_quality"](spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    ref = (
        con.execute(entry_mod.oracle_sql()["repetition_quality"])
        .df()
        .sort_values("doc_id", ignore_index=True)
    )
    pd.testing.assert_frame_equal(ours, ref, check_dtype=False, check_exact=True)

    out = ours.set_index("doc_id")
    assert out.loc[1, "dup_word_fraction"] > 0.8
    assert out.loc[1, "dup_bigram_fraction"] > 0.7
    assert out.loc[2, "dup_word_fraction"] == 0.0
    assert out.loc[2, "dup_bigram_fraction"] == 0.0
    for i in (3, 4, 5):
        assert tuple(out.loc[i]) == (0.0, 0.0, 0.0)
    assert pd.isna(out.loc[6, "dup_word_fraction"])
    assert out.loc[6, "dup_bigram_fraction"] == 0.0
    assert pd.isna(out.loc[6, "symbol_word_ratio"])


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [(1, "escribir a juan.perez@clinica.com.py o al +595 21-555123, CI 1.234.567"),
         (2, "sin datos personales aqui")],
        "doc_id long, text string",
    )
    out = text_analysis.scrub_pii(df, "text").toPandas().set_index("doc_id")
    s = out.loc[1, "text_scrubbed"]
    assert "<EMAIL>" in s and "<PHONE>" in s and "<DOTTED_ID>" in s
    assert "juan.perez" not in s and "555123" not in s and "1.234.567" not in s
    assert out.loc[1, "n_email"] == 1
    assert out.loc[1, "n_phone"] == 1
    assert out.loc[1, "n_dotted_id"] == 1
    assert out.loc[2, "n_email"] == 0 and out.loc[2, "text_scrubbed"] == df.toPandas().set_index("doc_id").loc[2, "text"]


def test_dataset_ops(spark):
    """hash_split determinism + boundaries; pack_contiguous bin budgets;
    contamination pairs on crafted overlap."""
    from medical_ocr_service_spark.operators import datasets as ds

    df = spark.range(1000).selectExpr("CAST(id AS STRING) AS k", "id")
    s1 = ds.hash_split(df, "k").toPandas()
    s2 = ds.hash_split(df, "k").toPandas()
    assert (s1.sort_values("k")["split"].values == s2.sort_values("k")["split"].values).all()
    frac = s1["split"].value_counts(normalize=True)
    assert 0.72 < frac["train"] < 0.88 and frac["test"] < 0.18
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        ds.hash_split(df, "k", {"a": 0.5, "b": 0.4})

    toks = spark.range(200).selectExpr("CAST(id AS STRING) AS k", "50 AS n_tok")
    packed = ds.pack_contiguous(toks, "k", "n_tok", budget=200, n_shards=4).toPandas()
    # each bin holds floor(200/50)=4 docs except possibly the last per shard
    sizes = packed.groupby(["shard", "bin"]).size()
    assert (sizes <= 4).all() and (sizes == 4).sum() > 0
    # bins are contiguous 0..max per shard
    for sh, grp in packed.groupby("shard"):
        assert sorted(grp["bin"].unique()) == list(range(grp["bin"].max() + 1))

    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "totally unrelated words in this training document here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta questionnaire answer")],
        "doc_id long, text string",
    )
    pairs = ds.contamination_pairs(train, bench, min_overlap=2).toPandas()
    assert len(pairs) == 1
    assert pairs.iloc[0]["train_id"] == 1 and pairs.iloc[0]["bench_id"] == 100


def test_png_codec_roundtrip_filters_and_colortypes():
    """Real PNG path (D2): encode/decode roundtrip is pixel-exact; the
    decoder handles all five scanline filters (forward-filtered in the test)
    and gray/palette/RGBA color types built chunk-by-chunk."""
    import struct
    import zlib

    import numpy as np

    from medical_ocr_service_spark.operators import multimodal as mm

    arr = np.stack(
        [
            (np.mgrid[0:37, 0:53][0] * 3 % 256),
            (np.mgrid[0:37, 0:53][1] * 5 % 256),
            ((np.mgrid[0:37, 0:53][0] + 7) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)
    w, h, back = mm.decode_png(mm.encode_png(arr))
    assert (w, h) == (53, 37) and np.array_equal(arr, back)

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF
        )

    def forward_filter(a, f):
        hh, ww = a.shape[:2]
        bpp = 3
        raw = a.reshape(hh, ww * 3).astype(np.int32)
        rows, prev = [], np.zeros(ww * 3, np.int32)
        for y in range(hh):
            cur = raw[y]
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            if f == 0:
                enc = cur
            elif f == 1:
                enc = (cur - left) % 256
            elif f == 2:
                enc = (cur - prev) % 256
            elif f == 3:
                enc = (cur - (left + prev) // 2) % 256
            else:
                p = left + prev - ul
                pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                enc = (cur - pred) % 256
            rows.append(np.concatenate([[f], enc]).astype(np.uint8))
            prev = cur
        return np.concatenate(rows).tobytes()

    for f in range(5):
        png = (
            sig
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 53, 37, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(forward_filter(arr, f)))
            + chunk(b"IEND", b"")
        )
        _, _, got = mm.decode_png(png)
        assert np.array_equal(arr, got), f"filter {f}"

    # gray expands to RGB; palette resolves through PLTE; RGBA drops alpha
    g = (np.arange(20 * 30) % 256).astype(np.uint8).reshape(20, 30)
    raw = np.zeros((20, 31), np.uint8)
    raw[:, 1:] = g
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 30, 20, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )
    _, _, rgb = mm.decode_png(png)
    assert np.array_equal(rgb[..., 0], g) and np.array_equal(rgb[..., 2], g)

    plte = (np.arange(256 * 3) % 256).astype(np.uint8)
    idx = (np.arange(15 * 10) % 256).astype(np.uint8).reshape(15, 10)
    raw = np.zeros((15, 11), np.uint8)
    raw[:, 1:] = idx
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 15, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )
    _, _, rgb = mm.decode_png(png)
    assert np.array_equal(rgb, plte.reshape(-1, 3)[idx])

    rgba = np.random.default_rng(0).integers(0, 256, (8, 9, 4), dtype=np.uint8)
    raw = np.zeros((8, 9 * 4 + 1), np.uint8)
    raw[:, 1:] = rgba.reshape(8, -1)
    png = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 8, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + chunk(b"IEND", b"")
    )
    _, _, rgb = mm.decode_png(png)
    assert np.array_equal(rgb, rgba[..., :3])

    # loud rejections: bad signature, interlaced, 16-bit
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"JUNK" * 8)
    png16 = sig + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0))
    with _pytest.raises(ValueError, match="8-bit"):
        mm.decode_png(png16)


def test_real_png_features_and_compress(spark):
    import numpy as np

    from medical_ocr_service_spark.operators import multimodal as mm

    media = mm.synthesize_media(spark, 60)
    png = media.filter("mime = 'image/png'")
    assert png.count() > 0
    feats = mm.decode_features(png, fake=False).toPandas()
    # real decode for every png row, gate fires on the under-200px ones
    assert feats["feat"].map(len).eq(16).all()
    assert feats["valid"].any() and (~feats["valid"]).any()
    assert (
        feats.loc[~feats["valid"], "error"].eq("DIMENSION_OR_SIZE").all()
    )

    # compression pass halves an oversized PNG and re-encodes real pixels
    big = mm.gradient_png(900, 700, seed=1)
    m2 = spark.createDataFrame(
        [("big", "image", "image/png", big, 900, 700, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    out = mm.compress_images(m2, max_bytes=len(big) // 2).toPandas().iloc[0]
    assert len(out["payload"]) <= len(big) // 2
    w, h, arr = mm.decode_png(bytes(out["payload"]))
    assert (w, h) == (out["width"], out["height"]) == (450, 350)
    assert arr.shape == (350, 450, 3)


def test_image_near_pairs_perceptual_hash(spark):
    # multimodal dedup over REAL pixels: the same raster re-encoded
    # losslessly (BMP -> PNG) hashes identically (hamming 0); a retouched
    # copy (+80 brightness on a corner region) stays within the radius
    # (hamming 2); structurally different gradients (hamming 17-23) never
    # pair; an undecodable payload is silently dropped, never paired.
    import numpy as np

    from medical_ocr_service_spark.operators import multimodal as M

    base = M.gradient_bmp(400, 300, seed=1)
    _, _, arr = M.decode_bmp(base)
    retouched = arr.astype(np.int16).copy()
    retouched[:75, :50, :] += 80
    retouched = np.clip(retouched, 0, 255).astype(np.uint8)
    rows = [
        ("m0", "image", "image/bmp", base, 400, 300, None),
        ("m1", "image", "image/png", M.encode_png(arr), 400, 300, None),
        ("m2", "image", "image/bmp", M.encode_bmp(retouched), 400, 300, None),
        ("m3", "image", "image/bmp", M.gradient_bmp(400, 300, seed=2), 400, 300, None),
        ("m4", "image", "image/bmp", b"not a bitmap", None, None, None),
        ("m5", "audio", "audio/wav", b"\x00" * 16, None, None, 10),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)

    sigs = {r["media_id"]: r["ahash"] for r in M.image_hashes(media).collect()}
    assert sorted(sigs) == ["m0", "m1", "m2", "m3"]  # m4 undecodable, m5 audio
    assert sigs["m0"] == sigs["m1"]

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.image_near_pairs(media, max_hamming=3).collect()
    }
    assert pairs[("m0", "m1")] == 0
    assert pairs[("m0", "m2")] == 2 and pairs[("m1", "m2")] == 2
    assert all("m3" not in p and "m4" not in p for p in pairs)

    with pytest.raises(ValueError, match="max_hamming <= 3"):
        M.image_near_pairs(media, max_hamming=4)


def test_average_hash_band_sign_bit(spark):
    # a hash with bit 63 set crosses the signed-long boundary: band
    # extraction must use the UNSIGNED shift and hamming must survive the
    # two's-complement representation end-to-end.
    import numpy as np

    from medical_ocr_service_spark.operators import multimodal as M

    # bottom half bright, top half dark -> bits 32..63 set (incl. bit 63)
    arr = np.zeros((300, 400, 3), np.uint8)
    arr[150:, :, :] = 255
    h = M.average_hash(arr)
    assert h >> 63 == 1 and h == ((1 << 32) - 1) << 32
    rows = [
        ("s0", "image", "image/bmp", M.encode_bmp(arr), 400, 300, None),
        ("s1", "image", "image/png", M.encode_png(arr), 400, 300, None),
    ]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = M.image_hashes(media).collect()
    assert all(r["ahash"] == h - (1 << 64) for r in got)  # signed bit pattern
    out = M.image_near_pairs(media).collect()
    assert [(out[0]["id_a"], out[0]["id_b"], out[0]["hamming"])] == [("s0", "s1", 0)]


def test_banded_hamming_pairs_guards(spark):
    from medical_ocr_service_spark.operators.dedup import banded_hamming_pairs

    sigs = spark.createDataFrame([("x", 1), ("y", 3)], "id string, sig long")
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        banded_hamming_pairs(sigs, max_hamming=4)
    with pytest.raises(ValueError, match="fit a 64-bit"):
        banded_hamming_pairs(sigs, n_bands=5, band_bits=16, max_hamming=3)
    got = banded_hamming_pairs(sigs).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [("x", "y", 1)]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    bases=st.lists(
        st.integers(min_value=0, max_value=(1 << 64) - 1),
        min_size=1,
        max_size=4,
    ),
    perturbs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # base index (mod len)
            st.sets(st.integers(min_value=0, max_value=63), max_size=5),
        ),
        min_size=1,
        max_size=12,
    ),
    radius=st.integers(min_value=0, max_value=3),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_banded_hamming_pairs_fuzz_vs_bruteforce(spark, bases, perturbs, radius):
    """banded_hamming_pairs must equal the quadratic brute force for any
    radius its pigeonhole blocking claims to cover — including signatures
    occupying bit 63 (negative LongType) and duplicate signatures."""
    from medical_ocr_service_spark.operators.dedup import banded_hamming_pairs

    sigs = [bases[bi % len(bases)] ^ sum(1 << b for b in bits)
            for bi, bits in perturbs]
    signed = [s - (1 << 64) if s >= 1 << 63 else s for s in sigs]
    ids = [f"s{i:02d}" for i in range(len(sigs))]
    expected = {
        (ids[i], ids[j], bin(sigs[i] ^ sigs[j]).count("1"))
        for i in range(len(sigs))
        for j in range(i + 1, len(sigs))
        if bin(sigs[i] ^ sigs[j]).count("1") <= radius
    }
    df = spark.createDataFrame(list(zip(ids, signed)), "id string, sig long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in banded_hamming_pairs(df, max_hamming=radius).collect()
    }
    assert got == expected


def test_banded_hamming_pairs_plan_is_equi_join(spark):
    """The whole point of the pigeonhole banding is turning quadratic
    all-pairs hamming into ONE shuffle equi-join on (band_idx, band_val);
    the physical plan must never degrade to a nested-loop/cartesian
    product (which is what a hamming <= k predicate joins into without
    the blocking)."""
    from medical_ocr_service_spark.operators.dedup import banded_hamming_pairs

    sigs = spark.createDataFrame(
        [(f"s{i}", i * 37) for i in range(8)], "id string, sig long"
    )
    plan = banded_hamming_pairs(sigs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_connected_components_chain_and_isolated_pair(spark):
    from medical_ocr_service_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3: needs >1 propagation round) + pair 10-11
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (11, 10)], "src long, dst long"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_string_ids_and_duplicate_edges(spark):
    from medical_ocr_service_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("a", "b"), ("b", "c"), ("z", "z")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges).collect()
    }
    # min-label is lexicographic for strings; self-loop z stays its own
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_connected_components_max_iter_raises(spark):
    import pytest as _pytest

    from medical_ocr_service_spark.operators.dedup import connected_components

    # a 5-chain cannot converge in 1 round of min-propagation, and with the
    # compressed phase disabled the exhaustion raise is still reachable
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1, compressed_iter=0)


def test_connected_components_giant_chain_degrades_not_raises(spark):
    """r4 verdict stretch #7: a pathological long chain exhausts the plain
    O(diameter) phase and must DEGRADE into the compressed (pointer-
    doubling) phase instead of raising — a 64-node chain with max_iter=2
    needs the doubling rounds to close the remaining ~60 hops in ~6 rounds
    rather than 60."""
    from medical_ocr_service_spark.operators.dedup import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges, max_iter=2).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_compressed_phase_handles_local_minima(spark):
    """Composition alone stalls on k-neighbourhood local minima (e.g. the
    path 5-1-6-0: after one plain round node 5 points to 1, a pure-doubling
    fixpoint, while the component min is 0). The compressed phase
    interleaves the neighbour-min step, so it must find the true min."""
    from medical_ocr_service_spark.operators.dedup import connected_components

    # path with non-monotone ids + a long tail to force the compressed phase
    path = [5, 1, 6, 0, 9, 4, 8, 2, 7, 3, 10, 12, 11, 14, 13, 16, 15]
    edges = spark.createDataFrame(
        list(zip(path, path[1:])), "src long, dst long"
    )
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(edges, max_iter=1).collect()
    }
    assert got == {v: 0 for v in path}


def test_chunk_dedup_stats_ownership(spark):
    # doc 0 owns the shared 5-token chunk (min id); doc 1 shares it verbatim
    # plus a unique chunk; doc 2 has NO whitespace tokens -> dropped.
    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [
            (0, shared),
            (1, shared + " zeta eta theta iota kappa"),
            (2, "   "),
        ],
        "doc_id long, text string",
    )
    out = (
        dedup.chunk_dedup_stats(df, "text", "doc_id", chunk_tokens=5)
        .orderBy("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in out] == [0, 1]
    d0, d1 = out
    assert (d0["n_chunks"], d0["n_owned"]) == (1, 1)
    assert (d1["n_chunks"], d1["n_owned"]) == (2, 1)  # shared chunk owned by 0


def test_chunk_dedup_within_doc_duplicates_count_once(spark):
    # the same 2-token chunk repeated inside ONE doc is one DISTINCT chunk
    df = spark.createDataFrame(
        [(7, "x y x y")], "doc_id long, text string"
    )
    row = dedup.chunk_dedup_stats(df, "text", "doc_id", chunk_tokens=2).first()
    assert (row["n_chunks"], row["n_owned"]) == (1, 1)


def test_chunk_dedup_rewrite_keep_rule_and_reassembly(spark):
    # doc 0 owns the shared chunk; doc 1 loses it but keeps its unique tail;
    # doc 2 is ENTIRELY the shared chunk -> drops out of the corpus;
    # doc 3 repeats one chunk inside itself -> second occurrence removed;
    # doc 4 has no tokens -> dropped. Case is preserved, hashing is not
    # case-sensitive (doc 1's copy differs only by case and still loses).
    shared = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame(
        [
            (0, shared),
            (1, shared.upper() + " zeta eta theta iota kappa"),
            (2, "  " + shared + "  "),
            (3, "x y x y z w"),
            (4, " \t "),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.chunk_dedup_rewrite(
            df, "text", "doc_id", chunk_tokens=5
        ).collect()
    }
    assert sorted(out) == [0, 1, 3]  # 2 fully-duplicated, 4 empty
    assert (out[0]["n_chunks"], out[0]["n_kept"]) == (1, 1)
    assert out[0]["clean_text"] == shared
    assert (out[1]["n_chunks"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["clean_text"] == "zeta eta theta iota kappa"
    # doc 3 with chunk_tokens=5: chunks are ["x y x y z", "w"] — no repeat
    # at width 5; re-run at width 2 to exercise the within-doc rule.
    row3 = (
        dedup.chunk_dedup_rewrite(
            df.filter("doc_id = 3"), "text", "doc_id", chunk_tokens=2
        )
        .collect()[0]
    )
    assert (row3["n_chunks"], row3["n_kept"]) == (3, 2)
    assert row3["clean_text"] == "x y z w"


def test_chunk_dedup_rewrite_is_idempotent(spark):
    # a second pass over this corpus is a no-op. NOT a theorem: a doc that
    # lost chunks re-chunks at shifted boundaries, which could in principle
    # collide with another doc's chunk — the assertion documents that the
    # deterministic test corpus (and any corpus without such collisions)
    # reaches a fixpoint after one pass.
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    once = dedup.chunk_dedup_rewrite(d, "text", "doc_id", chunk_tokens=20)
    twice = dedup.chunk_dedup_rewrite(
        once, "clean_text", "doc_id", chunk_tokens=20
    ).select("doc_id", F.col("clean_text"))
    diff = (
        once.select("doc_id", "clean_text")
        .exceptAll(twice)
        .unionAll(twice.exceptAll(once.select("doc_id", "clean_text")))
    )
    assert diff.count() == 0


def test_quantized_ann_matches_float_ranking_on_separable_data(spark):
    # axis-aligned clusters: int8 quantization preserves the coarse ranking
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # nearest to query
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0], 2),
        (4, [0.0, 0.0, 0.0, 0.0], 3),   # zero vector -> filtered out
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label long")
    out = similarity_search.quantized_ann_topk(df, query_id=0, k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    # q1 = [floor(0.9*127/0.9+.5), floor(0.1*127/0.9+.5)] = [127, 14];
    # query q0 = [127, 0, 0, 0] -> dot = 127*127
    assert out[0]["qdot"] == 127 * 127


def test_stratified_downsample_balances_and_is_deterministic(spark):
    from medical_ocr_service_spark.operators.datasets import (
        stratified_downsample,
    )

    rows = [(i, "big" if i < 400 else "small") for i in range(440)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out1 = stratified_downsample(df, "stratum", "doc_id").toPandas()
    out2 = stratified_downsample(df, "stratum", "doc_id").toPandas()
    # pure function of key: identical row sets across runs
    assert sorted(out1["doc_id"]) == sorted(out2["doc_id"])
    counts = out1.groupby("stratum")["doc_id"].count()
    assert counts["small"] == 40          # minority stratum kept whole
    assert 20 <= counts["big"] <= 62      # ~40 expected, hash-binomial spread


def test_bm25_topk_terms_prefers_rare_terms(spark):
    docs = [
        (0, "common common common rare common"),
        (1, "common common unique common common"),
        (2, "common common common common common"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = text_analysis.bm25_topk_terms(df, "text", "doc_id", k=1).toPandas()
    by_doc = dict(zip(out["doc_id"], out["token"]))
    assert by_doc[0] == "rare"
    assert by_doc[1] == "unique"
    assert by_doc[2] == "common"
    assert set(out.columns) == {"doc_id", "token", "tf", "bm25_odds"}


def test_dedup_corpus_keeps_representatives_and_singletons(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(
        dup_docs, "text", "doc_id", n_hashes=64, bands=32, shingle_k=3,
        jaccard_threshold=0.99,
    )
    out = dedup.dedup_corpus(dup_docs, pairs, "doc_id").toPandas()
    kept = set(out["doc_id"])
    # exact-dup pairs (b, b+1) collapse to min id b; near-dups (jaccard<0.99)
    # stay; the singleton survives untouched
    for b in (0, 10, 20):
        assert b in kept and (b + 1) not in kept
        assert (b + 2) in kept
    assert 99 in kept
    assert set(out.columns) == set(dup_docs.columns)


def test_dedup_corpus_transitive_cluster_one_survivor(spark):
    # a-b and b-c near-dup pairs, a-c never compared: the component walk
    # must still collapse all three to one representative (min id)
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    out = dedup.dedup_corpus(df, pairs, "doc_id").toPandas()
    assert sorted(out["doc_id"]) == [1, 9]


def _chunk_dedup_py(rows, chunk_tokens=20):
    """Pure-Python replay of chunk_dedup_stats: whitespace-split tokens,
    fixed-width chunks, global min-id chunk ownership."""
    import hashlib

    per_doc = {}
    for doc_id, text in rows:
        toks = [t for t in text.lower().replace("\t", " ")
                .replace("\n", " ").replace("\r", " ").split(" ") if t]
        if not toks:
            continue
        hs = set()
        for g in range(0, len(toks), chunk_tokens):
            hs.add(hashlib.md5(
                " ".join(toks[g:g + chunk_tokens]).encode()).hexdigest())
        per_doc[doc_id] = hs
    owner = {}
    for doc_id, hs in per_doc.items():
        for h in hs:
            owner[h] = min(owner.get(h, doc_id), doc_id)
    return {
        d: (len(hs), sum(1 for h in hs if owner[h] == d))
        for d, hs in per_doc.items()
    }


def test_chunk_dedup_stats_property_fuzzed(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "Y9"])
    doc = st.lists(words, min_size=0, max_size=50).map(" ".join)

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=1, max_size=8))
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_chunks"], r["n_owned"])
            for r in dedup.chunk_dedup_stats(
                df, "text", "doc_id", chunk_tokens=5
            ).collect()
        }
        assert got == _chunk_dedup_py(rows, chunk_tokens=5)

    run()


def test_centroid_outliers_surfaces_mislabel(spark):
    # label 0 clusters on axis x; vec 9 is labeled 0 but points along y —
    # it must rank 1 (lowest cosine to the label-0 centroid). Zero vectors
    # are excluded entirely.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),
        (3, [1.0, 0.05, 0.0, 0.0], 0),
        (9, [0.0, 1.0, 0.0, 0.0], 0),   # mislabeled
        (4, [0.0, 0.0, 0.0, 0.0], 1),   # zero norm -> dropped
        (5, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    out = similarity_search.centroid_outliers(df, bottom_k=2).toPandas()
    lbl0 = out[out["label"] == 0].sort_values("rnk")
    assert list(lbl0["vec_id"])[0] == 9
    assert lbl0.iloc[0]["cos_centroid"] < lbl0.iloc[1]["cos_centroid"]
    # the zero vector never appears, in any label
    assert 4 not in set(out["vec_id"])
    # label 1 has one member left: its cosine to its own centroid is 1
    lbl1 = out[out["label"] == 1]
    assert list(lbl1["vec_id"]) == [5] and lbl1.iloc[0]["cos_centroid"] == 1.0
