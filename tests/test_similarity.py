"""Similarity-search tests: LSH ANN recall vs brute force; multimodal
plumbing determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.functions.multimodal import documents_as_media, extract_features
from hadoop_20_warehouse_fix_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from tests.conftest import SF_CORRECT


def test_lsh_ann_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    # 2 planes → 4 buckets: ~1/4 corpus per query, decent recall for a
    # recall-floor assertion (4 planes is the latency-lean setting).
    approx = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, queries, k=5, n_planes=2, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"ANN recall suspiciously low: {recall}"
    # Every query must still get k results (buckets are never empty here).
    per_query = {}
    for q, _ in approx:
        per_query[q] = per_query.get(q, 0) + 1
    assert all(v == 5 for v in per_query.values())


def test_ivf_ann_recall_vs_brute_force(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}

    def run(nprobe, codebook):
        return {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, queries, k=5, n_centroids=16, nprobe=nprobe, codebook=codebook
            ).collect()
        }

    def recall(got):
        return len(exact & got) / len(exact)

    # Uniform-random synthetic embeddings are ANN-adversarial (neighbors
    # barely closer than random): recall tracks the scanned fraction, so
    # the 0.8-recall operating point is nprobe/K = 1/2. All numbers are
    # deterministic (seeded k-means codebook, fixed data): measured
    # kmeans 0.60@nprobe4 / 0.80@nprobe8 vs sample 0.58/0.78 at sf0.01.
    km4 = run(4, "kmeans")
    assert recall(km4) >= 0.5, f"IVF kmeans nprobe=4 recall regressed: {recall(km4)}"
    km8 = run(8, "kmeans")
    assert recall(km8) >= 0.8, f"IVF kmeans nprobe=8 recall regressed: {recall(km8)}"
    # k-means cells must not be WORSE than the sampled codebook.
    assert recall(km4) >= recall(run(4, "sample"))
    # Determinism: the seeded codebook must give identical results on re-run.
    assert km4 == run(4, "kmeans")


def test_ivf_recall_clustered_vs_isotropic(spark):
    """Round-11 brief #7: every prior recall number was measured on
    isotropic vectors, where recall ≈ scanned fraction (ANN's worst
    case, documented since r2). On PLANTED cluster structure (mixture
    of seeded Gaussians — the shape real embedding corpora have) the
    same K/nprobe buys far more: the 50k rig (SCALING.md r11,
    ann_recall_grid.py) measured 0.985 recall@5 at nprobe=1/K=64
    (1.6% scanned) on clustered vs 0.121 isotropic. This pins the
    seeded small-scale floor: same generator physics, deterministic."""
    import numpy as np

    N, NQ, DIM, KP = 3000, 50, 32, 16
    rng = np.random.default_rng(77)
    centers = rng.standard_normal((KP, DIM))
    assign = rng.integers(0, KP, N + NQ)
    clustered = centers[assign] + 0.15 * rng.standard_normal((N + NQ, DIM))
    isotropic = rng.standard_normal((N + NQ, DIM))

    def recall(mat, nprobe):
        rows = [(int(i), [float(x) for x in mat[i]]) for i in range(N + NQ)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        corpus = df.filter(F.col("vec_id") >= NQ)
        queries = df.filter(F.col("vec_id") < NQ)
        q, c = mat[:NQ], mat[NQ:]
        sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
            c / np.linalg.norm(c, axis=1, keepdims=True)
        ).T
        truth = {i: set((np.argsort(-sims[i])[:5] + NQ).tolist()) for i in range(NQ)}
        got: dict[int, set] = {}
        for r in ivf_topk(corpus, queries, k=5, n_centroids=16, nprobe=nprobe).collect():
            if r.neighbor_id is not None:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return float(np.mean([len(got.get(i, set()) & t) / 5 for i, t in truth.items()]))

    # nprobe=2 of K=16 scans ~1/8 of the corpus: cluster structure must
    # deliver near-total recall where isotropic gets ~the scanned slice
    rc = recall(clustered, 2)
    ri = recall(isotropic, 2)
    assert rc >= 0.9, f"clustered recall@5 regressed: {rc}"
    assert rc >= ri + 0.5, f"cluster-structure advantage collapsed: {rc} vs {ri}"


def test_multimodal_fake_features_deterministic(spark):
    media = documents_as_media(load_table(spark, SF_CORRECT, "documents").limit(50))
    a = {r.media_id: (r.n_bytes, r.byte_checksum, tuple(r.features)) for r in extract_features(media).collect()}
    b = {r.media_id: (r.n_bytes, r.byte_checksum, tuple(r.features)) for r in extract_features(media).collect()}
    assert a == b
    assert all(len(v[2]) == 8 for v in a.values())
    assert all(v[0] > 0 for v in a.values())


def test_numpy_brute_force_matches_jvm(spark):
    from hadoop_20_warehouse_fix_spark.operators.similarity import brute_force_topk_np

    emb = load_table(spark, SF_CORRECT, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    jvm = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    np_ = {
        (r.query_id, r.neighbor_id, r.rank): r.cosine
        for r in brute_force_topk_np(emb, queries, k=5).collect()
    }
    assert set(jvm) == set(np_)
    for key, c in jvm.items():
        assert abs(np_[key] - c) < 1e-6


def test_zero_vector_does_not_crash_or_rank(spark):
    """ANSI division by a zero norm must not fail the job; degenerate
    vectors rank last (NULL cosine) and never appear in top-k."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, df, k=2).collect()
    assert all(r.neighbor_id != 2 or r.cosine is None for r in out)
    # queries with zero norm return no meaningful matches but don't crash
    assert {r.query_id for r in out} >= {0, 1, 3}


def test_multimodal_resize_and_frames_deterministic(spark):
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        documents_as_media,
        resize_batch,
        sample_frames,
    )

    media = documents_as_media(load_table(spark, SF_CORRECT, "documents").limit(30))
    r1 = {r.media_id: bytes(r.payload) for r in resize_batch(media, 32, 32).collect()}
    r2 = {r.media_id: bytes(r.payload) for r in resize_batch(media, 32, 32).collect()}
    assert r1 == r2
    assert all(len(p) == 32 * 32 // 64 for p in r1.values())
    f1 = {(r.media_id, r.frame_idx): bytes(r.frame) for r in sample_frames(media, 4).collect()}
    assert len(f1) == 30 * 4
    f2 = {(r.media_id, r.frame_idx): bytes(r.frame) for r in sample_frames(media, 4).collect()}
    assert f1 == f2


def _make_ppm(w, h):
    import numpy as np

    # deterministic gradient: pixel (y,x) = (y*16, x*16, (x+y)*8) mod 256
    y, x = np.mgrid[0:h, 0:w]
    arr = np.stack([(y * 16) % 256, (x * 16) % 256, ((x + y) * 8) % 256], axis=-1).astype(
        "uint8"
    )
    return arr, b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def test_ppm_decode_encode_round_trip():
    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.multimodal import decode_image, encode_ppm

    arr, ppm = _make_ppm(6, 4)
    decoded = decode_image(ppm)
    assert decoded.shape == (4, 6, 3) and np.array_equal(decoded, arr)
    assert decode_image(encode_ppm(decoded)).tolist() == arr.tolist()
    # header comments per netpbm spec
    commented = b"P6\n# a comment\n6 4\n255\n" + arr.tobytes()
    assert np.array_equal(decode_image(commented), arr)


def test_bmp_decode_real_pixels():
    import struct

    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.multimodal import decode_image

    # hand-build a 3x2 24-bit bottom-up BMP: rows padded to 4 bytes
    pixels = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)  # RGB
    row_bytes = (3 * 3 + 3) & ~3  # 12
    raster = b""
    for row in pixels[::-1]:  # bottom-up
        r = b"".join(bytes([b, g, rr]) for rr, g, b in row)  # BGR
        raster += r.ljust(row_bytes, b"\x00")
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    bmp = header + info + raster
    assert np.array_equal(decode_image(bmp), pixels)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png_bytes(w, h, color_type, channels, raw_scanlines, depth=8):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw_scanlines))
        + _png_chunk(b"IEND", b"")
    )


def _png_filter_rows(img, filters):
    """Python-reference PNG §9 filterer: one filter type per row."""
    h, w, ch = img.shape
    bpp = ch
    recon = img.reshape(h, w * ch).astype(int)
    out = b""
    for y, f in enumerate(filters):
        cur = recon[y]
        prior = recon[y - 1] if y > 0 else [0] * (w * ch)
        line = []
        for x in range(w * ch):
            a = cur[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line.append((cur[x] - pred) % 256)
        out += bytes([f]) + bytes(line)
    return out


def test_png_round_trip_and_all_five_filters():
    """The pure PNG codec is REAL compressed-image decode (round-5
    brief #3): zlib inflate + spec §9 unfiltering. Round-trips its own
    encoder, and decodes a hand-filtered image exercising every filter
    type (None/Sub/Up/Average/Paeth) back to the exact pixels."""
    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        decode_image,
        encode_png,
    )

    arr, _ = _make_ppm(7, 5)
    png = encode_png(arr)
    assert png[:8] == b"\x89PNG\r\n\x1a\n" and len(png) > 0
    assert np.array_equal(decode_image(png), arr)

    # one row per filter type (and a repeat to cross row boundaries)
    arr6 = np.vstack([arr, arr[:1]])  # 6 rows
    raw = _png_filter_rows(arr6, [0, 1, 2, 3, 4, 2])
    assert np.array_equal(decode_image(_png_bytes(7, 6, 2, 3, raw)), arr6)

    # grayscale replicates to 3 channels; RGBA drops alpha
    gray = (arr[:, :, 0:1]).copy()
    raw_g = _png_filter_rows(gray, [1, 4, 0, 3, 2])
    got_g = decode_image(_png_bytes(7, 5, 0, 1, raw_g))
    assert np.array_equal(got_g, np.repeat(gray, 3, axis=2))
    rgba = np.dstack([arr, np.full((5, 7), 9, dtype=np.uint8)])
    raw_a = _png_filter_rows(rgba, [4, 3, 2, 1, 0])
    assert np.array_equal(decode_image(_png_bytes(7, 5, 6, 4, raw_a)), arr)


def test_unsupported_compressed_formats_posture():
    """Round-7 posture: baseline JPEG decodes IN-container (pure
    decoder, `functions/jpeg.py`), so a junk-bodied JPEG is now a
    ValueError (corrupt data), not a missing-codec
    NotImplementedError; progressive JPEG and exotic PNG variants
    remain library-gated NotImplementedError. With a library installed
    everything decodes through the same dispatch (skip-marked
    branch)."""
    import pytest as _pytest

    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        _image_library,
        decode_image,
    )

    fake_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 32
    if _image_library() is None:
        with _pytest.raises(ValueError, match="marker"):
            decode_image(fake_jpeg)  # valid magic, corrupt body
        # 16-bit PNG: pure decoder refuses, no library to fall back to
        raw = b"\x00" + b"\x00" * 12
        with _pytest.raises(NotImplementedError, match="variant"):
            decode_image(_png_bytes(2, 1, 2, 3, raw, depth=16))
    else:  # pragma: no cover — exercised only where a library exists
        _pytest.importorskip("PIL")
        import io

        import numpy as np
        from PIL import Image

        arr, _ = _make_ppm(8, 8)
        buf = io.BytesIO()
        Image.fromarray(arr).save(buf, format="JPEG", quality=95)
        out = decode_image(buf.getvalue())
        assert out.shape == (8, 8, 3)  # lossy — shape check only


def test_resize_real_pixels_and_batch(spark):
    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        decode_image,
        resize_batch,
        resize_image,
    )

    arr, ppm = _make_ppm(8, 8)
    out = decode_image(resize_image(ppm, 4, 4))
    # nearest-neighbor with floor index math: out[y,x] = arr[2y, 2x]
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out, arr[::2, ::2])

    # the Spark operator takes the REAL path for PPM and PNG payloads
    from hadoop_20_warehouse_fix_spark.functions.multimodal import encode_png

    media = spark.createDataFrame(
        [
            (1, bytearray(ppm)),
            (2, bytearray(b"not an image payload, resampled")),
            (3, bytearray(encode_png(arr))),
        ],
        "media_id long, payload binary",
    )
    rows = {r.media_id: bytes(r.payload) for r in resize_batch(media, 4, 4).collect()}
    assert decode_image(rows[1]).tolist() == arr[::2, ::2].tolist()
    assert len(rows[2]) == max(4 * 4 // 64, 1)  # fallback byte-resampler
    assert decode_image(rows[3]).tolist() == arr[::2, ::2].tolist()  # compressed in


def test_resize_batch_surfaces_undecodable_fallback(spark):
    """Round-6 brief #4: the byte-resampler stand-in for a payload that
    SNIFFS as an image but has no codec (JPEG without PIL/OpenCV) must
    be counted, not silent — and on_undecodable='error' must refuse it
    outright. PPM rows count as pixel_rows; plain bytes count as
    neither."""
    import pytest as _pytest
    from pyspark.sql import Observation

    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        _image_library,
        resize_batch,
    )

    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.jpeg import encode_jpeg

    _, ppm = _make_ppm(8, 8)
    fake_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64  # JPEG magic, junk body
    real_jpeg = encode_jpeg(np.full((8, 8), 99, dtype=np.uint8), quant=1)
    media = spark.createDataFrame(
        [
            (1, bytearray(ppm)),
            (2, bytearray(fake_jpeg)),
            (3, bytearray(b"plain bytes")),
            (4, bytearray(real_jpeg)),  # round-7: decodes in-container now
        ],
        "media_id long, payload binary",
    )
    obs = Observation("resize_paths")
    out = resize_batch(media, 4, 4, observation=obs)
    assert out.columns == ["media_id", "width", "height", "payload"]  # _status internal
    assert out.count() == 4
    m = obs.get
    assert m["rows"] == 4 and m["pixel_rows"] == 2  # PPM + baseline JPEG
    # junk JPEG body: undecodable with OR without a library -> counted
    assert m["sniffed_fallback_rows"] == 1

    if _image_library() is None:
        # no codec in this container: a REAL jpeg corpus would be 100%
        # stand-in — error mode refuses instead of silently degrading
        with _pytest.raises(Exception, match="(?i)PIL|codec|decode"):
            resize_batch(
                media.filter("media_id = 2"), 4, 4, on_undecodable="error"
            ).count()
    with _pytest.raises(ValueError, match="on_undecodable"):
        resize_batch(media, 4, 4, on_undecodable="maybe")
    # decode=False: sniffing off, nothing counted as sniffed fallback
    obs2 = Observation("resize_paths_off")
    resize_batch(media, 4, 4, decode=False, observation=obs2).count()
    assert obs2.get["pixel_rows"] == 0 and obs2.get["sniffed_fallback_rows"] == 0


def test_embedding_quantize_reconstruction(spark):
    import numpy as np

    from hadoop_20_warehouse_fix_spark.functions.embeddings import (
        dequantize_int8,
        quantize_int8,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = quantize_int8(emb).withColumn("recon", dequantize_int8())
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in q.select("vec_id", "scale", "codes", "recon").collect():
        o = orig[r.vec_id]
        rec = np.array(r.recon, dtype=np.float64)
        assert len(r.codes) == len(o)
        assert all(-127 <= c <= 127 for c in r.codes)
        # symmetric quantization error bound: half a step per element
        assert np.max(np.abs(o - rec)) <= r.scale / 2 + 1e-12


def test_embedding_normalize_unit_and_null(spark):
    from hadoop_20_warehouse_fix_spark.functions.embeddings import normalize_embedding

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, v array<double>"
    )
    rows = {r.id: r.u for r in df.select("id", normalize_embedding(F.col("v")).alias("u")).collect()}
    assert abs(sum(x * x for x in rows[1]) - 1.0) < 1e-12
    assert rows[2] is None  # zero-norm -> NULL, not NaN


def test_ivf_vectorized_assignment_matches_sql(spark):
    # The scale path (broadcast codebook -> Arrow matmul assignment +
    # batched scoring) must produce the same cells/ranking as the
    # oracle-replayable SQL fold; tie policy is aligned by construction.
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_fix_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    a = ivf_topk(emb, q, k=5, codebook="sample_md5", assign="sql").orderBy("query_id", "rank")
    b = ivf_topk(emb, q, k=5, codebook="sample_md5", assign="vectorized").orderBy("query_id", "rank")
    assert a.collect() == b.collect()


def test_ivf_precomputed_codebook_matches_inline_build(spark):
    """The amortization path (build the codebook once via ivf_codebook,
    reuse across query batches) must give bit-identical results to the
    inline build, for both the seeded-draw and kmeans codebooks, and
    reject an empty codebook loudly."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_fix_spark.operators.similarity import ivf_codebook, ivf_topk

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    for kind in ("sample_md5", "kmeans"):
        cb = ivf_codebook(emb, codebook=kind)
        assert len(cb) == 16 and all(len(v) == 64 for _, v in cb)
        for lo, hi in ((0, 5), (5, 10)):  # two query batches, one codebook
            q = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            direct = ivf_topk(emb, q, k=5, codebook=kind).orderBy("query_id", "rank").collect()
            reused = (
                ivf_topk(emb, q, k=5, precomputed_codebook=cb)
                .orderBy("query_id", "rank")
                .collect()
            )
            assert reused == direct, f"codebook={kind} batch=[{lo},{hi})"
    with pytest.raises(ValueError, match="empty"):
        ivf_topk(emb, emb.limit(1), precomputed_codebook=[])


def test_ivf_vectorized_tolerates_null_and_ragged_embeddings(spark):
    """A NULL or wrong-length embedding in the corpus must degrade to
    'that row contributes nothing' (as the SQL fold path does via NULL
    propagation), never crash the Arrow batch."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_fix_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    poisoned = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None).cast("array<float>"))
        .when(F.col("vec_id") % 11 == 0, F.slice("embedding", 1, 3))
        .otherwise(F.col("embedding")),
    )
    q = poisoned.filter(F.col("vec_id") < 10)
    out = ivf_topk(poisoned, q, k=5, codebook="sample_md5", assign="vectorized")
    rows = out.collect()  # must not raise
    assert all(r.cosine is not None for r in rows)
    # Queries with invalid vectors (NULL at %7: ids 0 and 7 among
    # vec_id<10) simply return no neighbors — NO exemptions: a zero-fill
    # regression in the Arrow batch path would fabricate neighbors for
    # exactly these ids.
    assert not any(r.query_id in (0, 7) for r in rows if r.query_id is not None)


def test_blocked_cosine_and_np_topk_tolerate_null_ragged(spark):
    """NULL / ragged / zero-norm embeddings must degrade (absent rows),
    never crash the Arrow batch — and an all-degenerate query set
    returns empty, not an AxisError."""
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        blocked_cosine_pairs,
        brute_force_topk_np,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    poisoned = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None).cast("array<float>"))
        .when(F.col("vec_id") % 11 == 0, F.slice("embedding", 1, 3))
        .otherwise(F.col("embedding")),
    )
    pairs = blocked_cosine_pairs(poisoned, threshold=0.2, n_blocks=2).collect()
    bad = {r.vec_id for r in poisoned.where(
        F.col("embedding").isNull() | (F.size("embedding") == 3)).collect()}
    assert all(r.id_a not in bad and r.id_b not in bad for r in pairs)

    q = poisoned.filter(F.col("vec_id") < 10)
    rows = brute_force_topk_np(poisoned, q, k=3).collect()
    assert all(r.query_id not in bad and r.neighbor_id not in bad for r in rows)
    assert rows  # clean queries still produce neighbors

    all_null = emb.limit(3).withColumn("embedding", F.lit(None).cast("array<float>"))
    assert brute_force_topk_np(emb, all_null, k=3).count() == 0


def test_lsh_topk_rejects_dim_mismatch(spark):
    import pytest

    emb = load_table(spark, SF_CORRECT, "embeddings")
    with pytest.raises(ValueError, match="dim=32 but corpus embeddings have length 64"):
        lsh_topk(emb, emb.limit(2), dim=32)


def test_image_features_real_pixels(spark):
    """Round-7: pixel-truth feature extraction — decodable payloads get
    real dimensions and channel stats (exact on a hand-made flat PPM);
    non-images stay decoded=false; counters mirror resize_batch."""
    import numpy as np
    from pyspark.sql import Observation

    from hadoop_20_warehouse_fix_spark.functions.jpeg import encode_jpeg
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        encode_ppm,
        image_features,
    )

    flat = np.zeros((6, 4, 3), dtype=np.uint8)
    flat[..., 0], flat[..., 1], flat[..., 2] = 10, 200, 77
    jpeg = encode_jpeg(np.full((8, 8), 99, dtype=np.uint8), quant=1)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(flat))),
            (2, bytearray(b"nothing like an image")),
            (3, bytearray(jpeg)),
            (4, bytearray(b"\xff\xd8\xff\xe0junkjunkjunk")),  # sniffs, corrupt
        ],
        "media_id long, payload binary",
    )
    obs = Observation("img_feat_paths")
    rows = {r.media_id: r for r in image_features(media, observation=obs).collect()}
    assert obs.get["rows"] == 4 and obs.get["decoded_rows"] == 2
    assert obs.get["sniffed_fallback_rows"] == 1
    r1 = rows[1]
    assert r1.decoded and (r1.width, r1.height) == (4, 6)
    assert r1.mean_rgb == [10.0, 200.0, 77.0] and r1.std_rgb == [0.0, 0.0, 0.0]
    r3 = rows[3]
    assert r3.decoded and (r3.width, r3.height) == (8, 8)
    assert abs(r3.mean_rgb[0] - 99.0) <= 1  # quant=1 baseline roundtrip
    assert not rows[2].decoded and rows[2].width is None
    assert not rows[4].decoded


def test_image_dhash_near_dup_pairs(spark):
    """Image near-dup detection on the SimHash pair machinery: exact
    copies pair at hamming 0, a global brightness shift pairs at
    hamming 0 TOO (dHash is gradient-based — the analytic invariance),
    and a structurally different image does not pair. Text payloads
    never enter the fingerprint set (undecodable -> dropped+counted)."""
    import numpy as np
    from pyspark.sql import Observation

    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        encode_ppm,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(9)
    base = rng.integers(30, 200, size=(32, 32, 3), dtype=np.uint8)
    brighter = np.clip(base.astype(int) + 40, 0, 255).astype(np.uint8)
    different = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_ppm(base))),
            (2, bytearray(encode_ppm(base))),       # exact copy
            (3, bytearray(encode_ppm(brighter))),   # brightness shift
            (4, bytearray(encode_ppm(different))),
            (5, bytearray(b"not an image at all")),
        ],
        "media_id long, payload binary",
    )
    obs = Observation("dhash_paths")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(media, max_hamming=3, observation=obs).collect()
    }
    assert obs.get["rows"] == 5 and obs.get["decoded_rows"] == 4
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0  # gradient invariance
    assert (1, 4) not in pairs and (3, 4) not in pairs
    assert all(5 not in p for p in pairs)


def test_ivf_state_lifecycle_probe_equals_rebuild(spark, tmp_path):
    """Round-8 brief #3: the ANN index as persisted state. Probe against
    the written state must equal ivf_topk(assign='vectorized') with the
    SAME codebook; append folds new vectors in (probe ≡ rebuild over
    corpus ∪ batch); delete tombstones out (probe ≡ search over the
    survivors); compaction shrinks files, physically removes tombstoned
    rows, and changes no answer."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_append,
        ivf_state_compact,
        ivf_state_delete,
        ivf_state_probe,
        ivf_state_write,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 100)
    batch = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    queries = emb.filter(F.col("vec_id") < 10)
    state = "ivf_state_t"

    def ref(c):
        cb = [
            (int(r.cid), [float(x) for x in r.cvec])
            for r in spark.table(f"{state}_codebook").collect()
        ]
        return (
            ivf_topk(c, queries, k=5, assign="vectorized", precomputed_codebook=cb)
            .orderBy("query_id", "rank")
            .collect()
        )

    def probe():
        return (
            ivf_state_probe(queries, "vec_id", "embedding", state, k=5, nprobe=4)
            .orderBy("query_id", "rank")
            .collect()
        )

    try:
        ivf_state_write(
            corpus, "vec_id", "embedding", state,
            n_centroids=16, codebook="sample_md5", num_buckets=4,
            path=str(tmp_path / "ivf"),
        )
        assert probe() == ref(corpus)
        # append: probe now ≡ rebuild over corpus ∪ batch (same codebook)
        ivf_state_append(batch, "vec_id", "embedding", state)
        assert probe() == ref(corpus.unionByName(batch))
        # delete: tombstoned ids vanish from answers before compaction
        gone = [r.vec_id for r in batch.select("vec_id").limit(20).collect()]
        ivf_state_delete(spark, state, gone)
        survivors = corpus.unionByName(batch.filter(~F.col("vec_id").isin(gone)))
        assert probe() == ref(survivors)
        with pytest.raises(ValueError, match="do not cast"):
            ivf_state_delete(spark, state, ["not-an-id"])
        # compact: files drop, tombstones physically gone, answers equal
        report = ivf_state_compact(spark, state)
        (before, after) = report[f"{state}_lists"]
        assert after < before
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        left = {r.neighbor_id for r in spark.table(f"{state}_lists").collect()}
        assert left.isdisjoint(set(gone))
        assert probe() == ref(survivors)
    finally:
        for t in ("lists", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_ivf_state_rebuild_clears_tombstones_and_dim_guard(spark, tmp_path):
    """Round-8 review pair on the IVF lifecycle: (a) a rebuild under a
    reused state name must not inherit tombstones; (b) a dimension-
    mismatched append/probe must raise, not silently no-op."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_append,
        ivf_state_delete,
        ivf_state_probe,
        ivf_state_write,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 100)
    queries = emb.filter(F.col("vec_id") < 5)
    state = "ivf_state_rebuild"
    try:
        ivf_state_write(
            corpus, "vec_id", "embedding", state, n_centroids=8,
            codebook="sample_md5", num_buckets=4, path=str(tmp_path / "i1"),
        )
        full = {
            (r.query_id, r.neighbor_id)
            for r in ivf_state_probe(queries, "vec_id", "embedding", state).collect()
        }
        victims = sorted({n for _, n in full})[:3]
        ivf_state_delete(spark, state, victims)
        after_del = {
            (r.query_id, r.neighbor_id)
            for r in ivf_state_probe(queries, "vec_id", "embedding", state).collect()
        }
        assert not {p for p in after_del if p[1] in victims}
        # rebuild same name: tombstones must not survive
        ivf_state_write(
            corpus, "vec_id", "embedding", state, n_centroids=8,
            codebook="sample_md5", num_buckets=4, path=str(tmp_path / "i2"),
        )
        again = {
            (r.query_id, r.neighbor_id)
            for r in ivf_state_probe(queries, "vec_id", "embedding", state).collect()
        }
        assert again == full
        # dim guard: a 128-dim batch against the 64-dim index refuses
        wide = corpus.limit(5).select(
            "vec_id", F.concat("embedding", "embedding").alias("embedding")
        )
        with pytest.raises(ValueError, match="dim 64"):
            ivf_state_append(wide, "vec_id", "embedding", state)
        with pytest.raises(ValueError, match="dim 64"):
            ivf_state_probe(wide, "vec_id", "embedding", state).collect()
    finally:
        for t in ("lists", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_ivf_sq8_state_lifecycle_probe_equals_rebuild(spark, tmp_path):
    """Round-9 brief #2: IVF-SQ8 — the persisted lists hold int8 codes
    (+ per-vector scale) and a full-vector side table; probes score the
    codes, keep a rescore pool, and exact-rescore from the side table.
    At rescored precision the whole lifecycle must match the exact
    vectorized rebuild: write, append, delete, compact."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_append,
        ivf_state_compact,
        ivf_state_delete,
        ivf_state_probe,
        ivf_state_write,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 100)
    batch = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    queries = emb.filter(F.col("vec_id") < 10)
    state = "ivf_sq8_t"

    def ref(c):
        cb = [
            (int(r.cid), [float(x) for x in r.cvec])
            for r in spark.table(f"{state}_codebook").collect()
        ]
        return (
            ivf_topk(c, queries, k=5, assign="vectorized", precomputed_codebook=cb)
            .orderBy("query_id", "rank")
            .collect()
        )

    def probe(rescore_factor=8):
        return (
            ivf_state_probe(
                queries, "vec_id", "embedding", state, k=5, nprobe=4,
                rescore_factor=rescore_factor,
            )
            .orderBy("query_id", "rank")
            .collect()
        )

    try:
        ivf_state_write(
            corpus, "vec_id", "embedding", state,
            n_centroids=16, codebook="sample_md5", num_buckets=4,
            path=str(tmp_path / "sq8"), quantize=True,
        )
        # the quantized layout is real: codes+scale in lists, no cv
        lists_cols = set(spark.table(f"{state}_lists").columns)
        assert {"codes", "scale", "cn"} <= lists_cols and "cv" not in lists_cols
        assert {"neighbor_id", "cv", "cn"} == set(
            spark.table(f"{state}_vectors").columns
        )
        assert spark.table(f"{state}_meta").collect()[0].quantized is True
        # exact at rescored precision
        assert probe() == ref(corpus)
        with pytest.raises(ValueError, match="rescore_factor"):
            probe(rescore_factor=0)
        # append folds into BOTH tables
        ivf_state_append(batch, "vec_id", "embedding", state)
        assert probe() == ref(corpus.unionByName(batch))
        # delete tombstones out of answers pre-compaction
        gone = [r.vec_id for r in batch.select("vec_id").limit(20).collect()]
        ivf_state_delete(spark, state, gone)
        survivors = corpus.unionByName(batch.filter(~F.col("vec_id").isin(gone)))
        assert probe() == ref(survivors)
        # compact: BOTH tables shrink, tombstoned rows physically gone
        # from both, answers unchanged
        report = ivf_state_compact(spark, state)
        assert report[f"{state}_lists"][1] < report[f"{state}_lists"][0]
        assert report[f"{state}_vectors"][1] < report[f"{state}_vectors"][0]
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        for t in ("lists", "vectors"):
            left = {r.neighbor_id for r in spark.table(f"{state}_{t}").collect()}
            assert left.isdisjoint(set(gone))
        assert probe() == ref(survivors)
        # rebuild WITHOUT quantize drops the stale side table
        ivf_state_write(
            corpus, "vec_id", "embedding", state,
            n_centroids=16, codebook="sample_md5", num_buckets=4,
            path=str(tmp_path / "sq8b"),
        )
        assert not spark.catalog.tableExists(f"{state}_vectors")
        assert probe() == ref(corpus)
    finally:
        for t in ("lists", "vectors", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_ivf_state_probe_prunes_unprobed_buckets(spark, tmp_path):
    """The probe collects its batch's probed cells and pushes them into
    the bucketed lists scan as an IN filter, so unprobed buckets are
    never read: one query at nprobe=1 against a 4-bucket state scans 1
    bucket of 4."""
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_probe,
        ivf_state_write,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    state = "ivf_state_prune"
    try:
        ivf_state_write(
            emb.filter(F.col("vec_id") >= 100), "vec_id", "embedding", state,
            n_centroids=16, codebook="sample_md5", num_buckets=4,
            path=str(tmp_path / "ivf"),
        )
        res = ivf_state_probe(
            emb.filter(F.col("vec_id") == 0), "vec_id", "embedding", state,
            k=5, nprobe=1,
        )
        assert len(res.collect()) == 5
        plan = res._jdf.queryExecution().executedPlan().toString()
        scans = [
            line for line in plan.splitlines()
            if "FileScan" in line and f"{state}_lists" in line
        ]
        assert scans, plan
        assert all("SelectedBucketsCount: 1 out of 4" in line for line in scans), scans
    finally:
        for t in ("lists", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_hashing_vectorize_oracle_replay(spark):
    """Round-9 brief #3: the hashing-trick vectorizer is built from
    engine-agnostic pieces (words_of tokenization, md5-hex bucket,
    ln(1+tf), unit norm) — so DuckDB replays the VECTORS themselves.
    Compared in exploded (doc_id, pos, value) form, rounded 6, for the
    default log/normalized vectors and for raw tf counts (where empty
    docs keep their zero vector instead of normalizing to NULL)."""
    from tests.oracle import compare

    from hadoop_20_warehouse_fix_spark.functions.embeddings import hashing_vectorize

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "text"
    )

    def exploded(**kw):
        return (
            hashing_vectorize(docs, dim=8, **kw)
            .filter(F.col("embedding").isNotNull())
            .select("doc_id", F.posexplode("embedding").alias("pos", "v"))
            .select("doc_id", "pos", F.round("v", 6).alias("v"))
        )

    counts = """
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                w -> w <> '')) AS w
      FROM documents
    ), b AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, 8),
               i -> (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
                    * power(16, 8 - i))) AS BIGINT) % 8 AS bucket
      FROM words
    ), counts AS (
      SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS c
      FROM b GROUP BY 1, 2
    ), dense AS (
      SELECT d.doc_id, g.i AS pos, coalesce(c.c, 0) AS tf
      FROM (SELECT DISTINCT doc_id FROM documents WHERE text IS NOT NULL) d
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) g
      LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bucket = g.i
    )"""
    log_normed = counts + """, normed AS (
      SELECT doc_id, pos,
             sqrt(sum(ln(1 + tf) * ln(1 + tf)) OVER (PARTITION BY doc_id)) AS nrm,
             ln(1 + tf) AS wgt
      FROM dense
    )
    SELECT doc_id, pos, round(wgt / nrm, 6) AS v
    FROM normed WHERE nrm > 0
    """
    raw_tf = counts + """
    SELECT doc_id, pos, round(tf, 6) AS v FROM dense
    """
    assert compare(exploded(weighting="log", normalize=True), log_normed, SF_CORRECT) == []
    assert compare(exploded(weighting="tf", normalize=False), raw_tf, SF_CORRECT) == []


def test_hashing_vectorize_contract(spark, tmp_path):
    """Shape/degenerate contract: tf vs log weighting, empty doc ->
    NULL under normalization (zero vector raw), validation, and the
    output feeding the ANN machinery end-to-end (raw text -> vectors
    -> quantized persisted index -> probe == exact rebuild)."""
    import pytest

    from hadoop_20_warehouse_fix_spark.functions.embeddings import hashing_vectorize
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_probe,
        ivf_state_write,
        ivf_topk,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "alpha beta ALPHA"), (3, ""), (4, "   "),
         (5, None)],
        "doc_id long, text string",
    )
    raw = {
        r.doc_id: r.embedding
        for r in hashing_vectorize(
            docs, dim=4, weighting="tf", normalize=False
        ).collect()
    }
    # case-folded tokenization: docs 1 and 2 vectorize identically
    assert raw[1] == raw[2]
    assert sum(raw[1]) == 3.0 and max(raw[1]) == 2.0  # tf counts
    assert raw[3] == [0.0] * 4 and raw[4] == [0.0] * 4
    assert raw[5] is None  # NULL text -> NULL vector, never the zero vector
    import math

    logged = {
        r.doc_id: r.embedding
        for r in hashing_vectorize(
            docs, dim=4, weighting="log", normalize=False
        ).collect()
    }
    assert max(logged[1]) == pytest.approx(math.log(3.0))
    normed = {
        r.doc_id: r.embedding
        for r in hashing_vectorize(docs, dim=4).collect()
    }
    assert normed[3] is None and normed[4] is None  # zero vector -> NULL
    assert normed[5] is None
    assert sum(x * x for x in normed[1]) == pytest.approx(1.0)
    with pytest.raises(ValueError, match="dim"):
        hashing_vectorize(docs, dim=0)
    with pytest.raises(ValueError, match="weighting"):
        hashing_vectorize(docs, weighting="idf")

    # the loop closes: raw text -> vectors -> persisted quantized ANN.
    # The vectors are materialized to parquet between the stages — the
    # realistic artifact boundary (a 100 TB embedding set is written
    # once, indexed from files).
    corpus_docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "text"
    )
    hashing_vectorize(corpus_docs, dim=16).filter(
        F.col("embedding").isNotNull()
    ).write.parquet(str(tmp_path / "vecs"))
    vecs = spark.read.parquet(str(tmp_path / "vecs"))
    queries = vecs.filter(F.col("doc_id") < 10)
    state = "txtvec_ivf"
    try:
        ivf_state_write(
            vecs, "doc_id", "embedding", state,
            n_centroids=8, codebook="sample_md5", num_buckets=4,
            quantize=True,
        )
        cb = [
            (int(r.cid), [float(x) for x in r.cvec])
            for r in spark.table(f"{state}_codebook").collect()
        ]
        got = (
            ivf_state_probe(
                queries, "doc_id", "embedding", state, k=3, nprobe=3,
                rescore_factor=8,
            )
            .orderBy("query_id", "rank")
            .collect()
        )
        want = (
            ivf_topk(
                vecs, queries, id_col="doc_id", vec_col="embedding",
                k=3, nprobe=3, assign="vectorized", precomputed_codebook=cb,
            )
            .orderBy("query_id", "rank")
            .collect()
        )
        assert got == want and len(got) > 0
    finally:
        for t in ("lists", "vectors", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_ivf_state_probe_scoring_paths_agree(spark, tmp_path):
    """Round-9 brief #7: the JVM-fold scorer (no Python worker
    spin-up — ~1.5s of a small-batch serving wall) must return
    EXACTLY what the Arrow scorer returns, on both the flat and the
    quantized state; 'auto' picks by the measured candidate-count
    crossover and must agree too. Round 10 adds the blocked-GEMM
    scorer (the large-batch form) to the same equality — including its
    lexsort tie order, which must match the window's
    (desc cosine, asc neighbor_id)."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_probe,
        ivf_state_write,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 50)
    queries = emb.filter(F.col("vec_id") < 10)
    for tag, quant in (("flat", False), ("sq8", True)):
        state = f"score_paths_{tag}"
        try:
            ivf_state_write(
                corpus, "vec_id", "embedding", state, n_centroids=8,
                codebook="sample_md5", num_buckets=4,
                path=str(tmp_path / tag), quantize=quant,
            )
            outs = {
                mode: ivf_state_probe(
                    queries, "vec_id", "embedding", state, k=5, nprobe=3,
                    scoring=mode,
                ).orderBy("query_id", "rank").collect()
                for mode in ("arrow", "fold", "auto", "gemm")
            }
            assert outs["arrow"] == outs["fold"] == outs["auto"] == outs["gemm"]
            assert len(outs["arrow"]) > 0
        finally:
            for t in ("lists", "vectors", "codebook", "meta", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
            spark.catalog.clearCache()
    with pytest.raises(ValueError, match="scoring"):
        ivf_state_probe(queries, "vec_id", "embedding", "nope", scoring="gpu")


def test_gemm_batch_auto_chunks_past_closure_budget(spark, tmp_path, monkeypatch):
    """Round-11 brief #4: the gemm scorer's per-query closure state
    (ADC tables / query stacks) was unguarded past the 1000-query
    serving batch it was sized for. Over the budget the batch must
    auto-chunk by query id and return EXACTLY the unchunked ranking —
    the per-chunk partial pools are already in the global tie order,
    so the window cut merges them losslessly."""
    from hadoop_20_warehouse_fix_spark.operators import similarity as sim
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        _gemm_closure_chunks,
        ivf_state_probe,
        ivf_state_write,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 50)
    queries = emb.filter(F.col("vec_id") < 12)
    for tag, kwargs in (("sq8", dict(quantize=True)), ("pq", dict(quantize="pq", pq_m=4))):
        state = f"gemm_chunk_{tag}"
        try:
            ivf_state_write(
                corpus, "vec_id", "embedding", state, n_centroids=8,
                codebook="sample_md5", num_buckets=4,
                path=str(tmp_path / tag), **kwargs,
            )

            def probe():
                return ivf_state_probe(
                    queries, "vec_id", "embedding", state, k=5, nprobe=3,
                    scoring="gemm",
                ).orderBy("query_id", "rank").collect()

            unchunked = probe()
            assert unchunked
            # ~2 KB budget forces many chunks on a 12-query batch
            monkeypatch.setattr(sim, "GEMM_CLOSURE_BUDGET_BYTES", 2048)
            assert probe() == unchunked
            monkeypatch.setattr(sim, "GEMM_CLOSURE_BUDGET_BYTES", 64 << 20)
        finally:
            for t in ("lists", "vectors", "codebook", "meta", "tombstones"):
                spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
            spark.catalog.clearCache()

    # The bound itself: every chunk the packer emits must fit the
    # budget (single over-budget queries run alone, never split).
    from collections import namedtuple

    Row = namedtuple("Row", "query_id cell qv qn")
    rows = [Row(q, c, [0.0] * 16, 1.0) for q in range(40) for c in range(3)]
    budget = 4096
    est, chunks = _gemm_closure_chunks(rows, 16, "flat", None, budget)
    assert est > budget and chunks is not None and len(chunks) > 1
    per_row = 16 * 8 + 24
    for ch in chunks:
        ch_est, ch_split = _gemm_closure_chunks(ch, 16, "flat", None, budget)
        assert ch_est <= budget and ch_split is None
        assert ch_est == per_row * len(ch)
    assert sorted(r.query_id for ch in chunks for r in ch) == sorted(r.query_id for r in rows)
    # a query's rows never straddle chunks
    seen = {}
    for i, ch in enumerate(chunks):
        for r in ch:
            assert seen.setdefault(r.query_id, i) == i


def test_ivf_pq_state_lifecycle_probe_equals_rebuild(spark, tmp_path):
    """Round-9 depth: true IVF-PQ (Jégou 2011) on the same persisted
    state machinery — m one-byte subspace codes per vector (8 bytes at
    m=8 vs 512 float64), codebooks trained on an md5-deterministic
    sample and persisted; probes score codes, exact-rescore the pool.
    Whole lifecycle must match the exact vectorized rebuild at
    rescored precision; both quantized layouts share the vectors side
    table and compaction."""
    import pytest

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_append,
        ivf_state_compact,
        ivf_state_delete,
        ivf_state_probe,
        ivf_state_write,
        ivf_topk,
        pq_train,
    )

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 100)
    batch = emb.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    queries = emb.filter(F.col("vec_id") < 10)
    state = "ivf_pq_t"

    def ref(c):
        cb = [
            (int(r.cid), [float(x) for x in r.cvec])
            for r in spark.table(f"{state}_codebook").collect()
        ]
        return (
            ivf_topk(c, queries, k=5, assign="vectorized", precomputed_codebook=cb)
            .orderBy("query_id", "rank")
            .collect()
        )

    def probe(rf=64):
        # rf=64: PQ's only approximation is pool membership; on this
        # clustered testdata a 16-wide pool occasionally misses a
        # true neighbor post-append (measured 3/50 rows), 64 never does
        return (
            ivf_state_probe(
                queries, "vec_id", "embedding", state, k=5, nprobe=4,
                rescore_factor=rf,
            )
            .orderBy("query_id", "rank")
            .collect()
        )

    def assert_gemm_agrees():
        # round 10: the ADC lookup-table (gemm) PQ scorer must return
        # exactly what the Arrow pair scorer returns
        got = {
            mode: ivf_state_probe(
                queries, "vec_id", "embedding", state, k=5, nprobe=4,
                scoring=mode,
            ).orderBy("query_id", "rank").collect()
            for mode in ("arrow", "gemm")
        }
        assert got["arrow"] == got["gemm"] and got["arrow"]

    try:
        ivf_state_write(
            corpus, "vec_id", "embedding", state,
            n_centroids=16, codebook="sample_md5", num_buckets=4,
            path=str(tmp_path / "pq"), quantize="pq", pq_m=8,
        )
        lists_cols = set(spark.table(f"{state}_lists").columns)
        assert "pq" in lists_cols and "cv" not in lists_cols and "codes" not in lists_cols
        # codes really are m bytes
        one = spark.table(f"{state}_lists").select("pq").first()
        assert len(bytes(one.pq)) == 8
        meta = spark.table(f"{state}_meta").collect()[0]
        assert meta.quantized is True and meta.quant_kind == "pq"
        # pq_train is deterministic per seed
        import numpy as np

        b1 = pq_train(corpus, "vec_id", "embedding", m=8, seed=42)
        b2 = pq_train(corpus, "vec_id", "embedding", m=8, seed=42)
        assert np.array_equal(b1, b2)
        # lifecycle at rescored precision
        assert probe() == ref(corpus)
        ivf_state_append(batch, "vec_id", "embedding", state)
        assert probe() == ref(corpus.unionByName(batch))
        gone = [r.vec_id for r in batch.select("vec_id").limit(20).collect()]
        ivf_state_delete(spark, state, gone)
        survivors = corpus.unionByName(batch.filter(~F.col("vec_id").isin(gone)))
        assert probe() == ref(survivors)
        report = ivf_state_compact(spark, state)
        assert report[f"{state}_lists"][1] < report[f"{state}_lists"][0]
        assert report[f"{state}_vectors"][1] < report[f"{state}_vectors"][0]
        assert probe() == ref(survivors)
        assert_gemm_agrees()
        # validation: bad quantize value, bad subspace split
        with pytest.raises(ValueError, match="quantize"):
            ivf_state_write(
                corpus, "vec_id", "embedding", state, quantize="int4",
            )
        with pytest.raises(ValueError, match="divisible"):
            pq_train(corpus, "vec_id", "embedding", m=7)
    finally:
        for t in ("lists", "vectors", "codebook", "meta", "tombstones", "pq"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_hashing_vectorize_unseamed_composition_failure_pinned(spark, tmp_path):
    """Round-10 brief #7: hashing_vectorize's UN-materialized output
    feeds a pandas-UDF consumer (ivf_state_write's cell assignment)
    directly — its vector column is a plain UDF result, so Catalyst
    has no expression tree to inline into the consumer's argument and
    no parquet seam is needed between vectorizing and indexing."""
    from hadoop_20_warehouse_fix_spark.functions.embeddings import hashing_vectorize
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_probe,
        ivf_state_write,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i}") for i in range(40)],
        "doc_id long, text string",
    )
    vecs = hashing_vectorize(docs, dim=8).select("doc_id", "embedding")
    ivf_state_write(vecs, "doc_id", "embedding", "seam_free_state",
                    n_centroids=2, path=str(tmp_path / "seamfree"))
    got = ivf_state_probe(
        vecs.limit(3), "doc_id", "embedding", "seam_free_state", k=2
    ).collect()
    assert got


def test_ivf_probe_gemm_null_padding_parity(spark, tmp_path):
    """Round-10 review catch: degenerate corpus candidates (zero-norm)
    must appear as NULL-cosine padding rows on EVERY scoring path when
    k exceeds a probe's finite candidates — the gemm scorer initially
    dropped them while arrow/fold emitted them, breaking the pinned
    all-paths equality on exactly the sparse-cell probes."""
    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_probe,
        ivf_state_write,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: NULL cosine everywhere
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    state = "gemm_null_pad"
    try:
        ivf_state_write(
            corpus, "vec_id", "embedding", state, n_centroids=1,
            codebook="sample_md5", num_buckets=2, path=str(tmp_path / "s"),
        )
        outs = {
            mode: [
                (r.query_id, r.neighbor_id, r.cosine, r.rank)
                for r in ivf_state_probe(
                    queries, "vec_id", "embedding", state, k=4, nprobe=1,
                    scoring=mode,
                ).orderBy("rank").collect()
            ]
            for mode in ("arrow", "fold", "gemm")
        }
        assert outs["arrow"] == outs["fold"] == outs["gemm"]
        # the degenerate row IS there, NULL cosine, ranked last
        assert outs["gemm"][-1][1] == 4 and outs["gemm"][-1][2] is None
        assert len(outs["gemm"]) == 4
        # degenerate QUERY divergence, pinned as documented: the
        # expression paths return k all-NULL rows, the gemm path (like
        # brute_force_topk_np) returns none
        zq = spark.createDataFrame(
            [(200, [0.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        arrow_rows = ivf_state_probe(
            zq, "vec_id", "embedding", state, k=2, nprobe=1, scoring="arrow"
        ).collect()
        assert len(arrow_rows) == 2 and all(r.cosine is None for r in arrow_rows)
        assert not ivf_state_probe(
            zq, "vec_id", "embedding", state, k=2, nprobe=1, scoring="gemm"
        ).collect()
    finally:
        for t in ("lists", "vectors", "codebook", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()
