"""Round-9 brief #1: the MULTIMODAL capstone — media columns through
the training-set pipeline. The near-dup matrix (image/audio/video on
one Hamming band engine) and the capstone composition finally meet:
decode gate -> modality fingerprint near-dup -> connected components
keep-lowest -> split -> pack, as ONE pipeline over a MIXED corpus,
with the dropped-media ledger the text path established.

Planted duplicates are cross-FORMAT — the class byte-level md5 can
never see: a WAV vs its FLAC twin (same samples, different
container), a baseline vs its progressive JPEG re-encode
(pixel-identical decode paths), a re-encoded AVI (different JPEG
quality per frame). Reference analog: the heterogeneous-doc index
pipeline (/root/reference/X/index/.../main/UpdateIndex.java:66)."""

import numpy as np
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.functions.audio import encode_wav
from hadoop_20_warehouse_fix_spark.functions.flac import encode_flac
from hadoop_20_warehouse_fix_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
)
from hadoop_20_warehouse_fix_spark.functions.video import encode_avi_mjpeg
from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope
from hadoop_20_warehouse_fix_spark.queries.corpus import (
    corpus_prepare_media_training_set,
)
from tests.conftest import cache_manager_empty


def _clip(seed: int) -> np.ndarray:
    """~2s of band-rich audio (the spectral fingerprint needs real
    structure; silence fingerprints degenerate)."""
    t = np.arange(16000) / 8000.0
    rng = np.random.default_rng(seed)
    freqs = rng.uniform(100, 2000, 5)
    amps = rng.uniform(0.2, 1.0, 5)
    return sum(a * np.sin(2 * np.pi * f * t) for f, a in zip(freqs, amps)) / 3.0


def _img(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(30, 220, size=(24, 24, 3)).astype(np.uint8)


def _vid(seed: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    base = rng.integers(40, 160, size=(6, 24, 24, 3)).astype(np.uint8)
    return [base[i] for i in range(6)]


def _mixed_corpus(spark):
    """ids chosen so keep-lowest is checkable: each planted duplicate
    pair is (low, high) and the HIGH id must drop."""
    img_a, img_b = _img(1), _img(2)
    clip_a, clip_b = _clip(3), _clip(4)
    vid_a, vid_b = _vid(5), _vid(6)
    rows = [
        # --- images: 10 baseline, 11 progressive re-encode (dup), 12 distinct
        (10, bytearray(encode_jpeg(img_a, quant=8))),
        (11, bytearray(encode_jpeg_progressive(img_a, quant=8))),
        (12, bytearray(encode_jpeg(img_b, quant=8))),
        # --- audio: 20 WAV, 21 FLAC twin (dup), 22 distinct
        (20, bytearray(encode_wav(clip_a, 8000))),
        (21, bytearray(encode_flac(clip_a, 8000))),
        (22, bytearray(encode_wav(clip_b, 8000))),
        # --- video: 30 quant=1, 31 re-encode quant=4 (dup), 32 distinct
        (30, bytearray(encode_avi_mjpeg(vid_a, quant=1))),
        (31, bytearray(encode_avi_mjpeg(vid_a, quant=4))),
        (32, bytearray(encode_avi_mjpeg(vid_b, quant=1))),
        # --- byte-identical copy of 12: exact dedup (md5) must drop 40
        (40, bytearray(encode_jpeg(img_b, quant=8))),
        # --- sniffed-but-undecodable: counted as failed_decode, dropped
        (50, bytearray(b"RIFF\x00\x00\x00\x00AVI junkjunkjunk")),
        # --- unrecognized container (MP3 magic): counted, dropped
        (51, bytearray(b"ID3\x04\x00 not a decodable format here")),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_media_fingerprint_bands_dispatch_and_ledger(spark):
    """One pass dispatches every modality correctly and the ledger
    counts decode outcomes per class."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )

    media = _mixed_corpus(spark)
    obs = Observation("media_gate")
    out = media_fingerprint_bands(media, observation=obs).collect()
    got = {r.id: r.modality for r in out}
    assert {i for i, m in got.items() if m == "image"} == {10, 11, 12, 40}
    assert {i for i, m in got.items() if m == "audio"} == {20, 21, 22}
    assert {i for i, m in got.items() if m == "video"} == {30, 31, 32}
    assert obs.get["rows"] == 12
    assert obs.get["decoded_rows"] == 10
    assert obs.get["failed_decode_rows"] == 1  # the corrupt AVI
    assert obs.get["unrecognized_rows"] == 1  # the MP3 magic
    assert obs.get["decoded_image_rows"] == 4
    assert obs.get["decoded_audio_rows"] == 3
    assert obs.get["decoded_video_rows"] == 3
    # every emitted fingerprint has all four bands
    assert all(
        r.band0 is not None and r.band3 is not None for r in out
    )


def test_hamming_band_key_cols_isolate_modalities(spark):
    """key_cols folds extra columns into the pair engine's equality
    key: identical band vectors in DIFFERENT modalities never pair;
    within a modality the old behavior is untouched."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        hamming_pairs_from_bands,
    )

    rows = [
        (1, "image", 7, 7, 7, 7),
        (2, "audio", 7, 7, 7, 7),  # same fingerprint, other modality
        (3, "image", 7, 7, 7, 6),  # hamming 1 from id 1 within image
    ]
    bands = spark.createDataFrame(
        rows, "id long, modality string, band0 int, band1 int, band2 int, band3 int"
    )
    keyed = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs_from_bands(bands, 3, key_cols=["modality"]).collect()
    }
    assert keyed == {(1, 3): 1}
    # without key_cols the collision DOES pair — the hazard the keyed
    # form exists to prevent on mixed corpora
    plain = {
        (r.id_a, r.id_b)
        for r in hamming_pairs_from_bands(bands.drop("modality"), 3).collect()
    }
    assert (1, 2) in plain
    # key names reach a SQL parser: a reserved word and a punctuated
    # name must still name the column
    for name in ("order", "media-kind"):
        renamed = {
            (r.id_a, r.id_b): r.hamming
            for r in hamming_pairs_from_bands(
                bands.withColumnRenamed("modality", name), 3, key_cols=[name]
            ).collect()
        }
        assert renamed == {(1, 3): 1}, name


def test_corpus_prepare_media_training_set_end_to_end(spark):
    """The full pipeline over the mixed corpus: exact dup (40) gone via
    md5, cross-format near-dups (11, 21, 31) gone via fingerprint
    clustering keep-lowest, undecodables (50, 51) counted + dropped,
    survivors split content-addressed and the train split packed into
    byte-budget shards."""
    media = _mixed_corpus(spark)
    obs = Observation("media_capstone")
    spark.catalog.clearCache()
    with cache_scope() as held:
        rows = corpus_prepare_media_training_set(
            spark, media, shard_budget_bytes=4096, observation=obs
        ).collect()
    assert held, "capstone must register its persisted intermediates"
    assert cache_manager_empty(spark)
    got = {r.media_id: r for r in rows}
    # keep-lowest survivors only
    assert set(got) == {10, 12, 20, 22, 30, 32}
    assert {r.modality for r in rows} == {"image", "audio", "video"}
    # ledger: exact dedup ran BEFORE the gate (11 rows enter, not 12)
    assert obs.get["rows"] == 11
    assert obs.get["decoded_rows"] == 9
    assert obs.get["failed_decode_rows"] == 1
    assert obs.get["unrecognized_rows"] == 1
    # n_bytes is the payload's true size
    sizes = {r.media_id: r.n_bytes for r in rows}
    payloads = {r.media_id: len(r.payload) for r in media.collect()}
    assert all(sizes[i] == payloads[i] for i in sizes)
    # split is the shared md5 coin — replayable via assign_split
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split

    want_split = {
        r.media_id: r.split
        for r in assign_split(
            media.select("media_id"), "media_id"
        ).collect()
    }
    assert all(got[i].split == want_split[i] for i in got)
    # packing: train shards are monotone non-decreasing in media_id
    # order and only the train split carries a shard id
    train = sorted(
        (r.media_id, r.shard_id) for r in rows if r.split == "train"
    )
    assert all(r.shard_id is None for r in rows if r.split != "train")
    assert [s for _, s in train] == sorted(s for _, s in train)
    if train:
        assert train[0][1] == 0


def test_media_capstone_validates_budget(spark):
    with pytest.raises(ValueError, match="shard_budget_bytes"):
        corpus_prepare_media_training_set(
            spark, _mixed_corpus(spark), shard_budget_bytes=0
        )


def test_media_capstone_empty_and_all_undecodable(spark):
    """Degenerate corpora flow through: no rows, or nothing decodable —
    empty result, ledger still filled, no crash in CC over zero pairs."""
    empty = spark.createDataFrame([], "media_id long, payload binary")
    assert corpus_prepare_media_training_set(spark, empty).count() == 0
    junk = spark.createDataFrame(
        [(1, bytearray(b"garbage")), (2, bytearray(b"RIFF\0\0\0\0AVI junk"))],
        "media_id long, payload binary",
    )
    obs = Observation("junk_gate")
    out = corpus_prepare_media_training_set(spark, junk, observation=obs)
    assert out.count() == 0
    assert obs.get["rows"] == 2 and obs.get["decoded_rows"] == 0
    assert obs.get["failed_decode_rows"] == 1
    assert obs.get["unrecognized_rows"] == 1


def test_media_capstone_modality_mix(spark):
    """target_mix thins modalities to byte proportions — the text
    capstone's mix recipe with modality as the source. A dropped
    modality (absent from the mix) vanishes; kept modalities only ever
    THIN (never upsample); the split column stays the shared
    content-addressed coin."""
    media = _mixed_corpus(spark)
    out = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096,
        target_mix={"image": 0.6, "audio": 0.4},
    ).collect()
    mods = {r.modality for r in out}
    assert "video" not in mods and mods <= {"image", "audio"}
    # subset of the unmixed survivor set — mixing only thins
    full = {
        r.media_id
        for r in corpus_prepare_media_training_set(
            spark, media, shard_budget_bytes=4096
        ).collect()
    }
    assert {r.media_id for r in out} <= full


def _broadband_clip(seed: int, freqs) -> np.ndarray:
    """Distinct-but-broadband clip: uniform noise (flatness floor ~0.25,
    above any reasonable gate) + a distinctive tone pair (band-energy
    structure, so different clips fingerprint FAR apart — dev-measured
    hamming 24). Pure noise won't do: a flat spectrum leaves every
    energy-comparison bit at the tie and independent noise clips pair
    (the same physics as the tonal over-cluster, from the other end);
    the _clip fixture's summed sines are themselves sparse-spectrum
    (flatness ~1e-6)."""
    rng = np.random.default_rng(seed)
    t = np.arange(16000) / 8000.0
    return rng.uniform(-0.4, 0.4, 16000) + sum(
        0.4 * np.sin(2 * np.pi * f * t) for f in freqs
    )


def _tone_clip(f1: float, f2: float) -> np.ndarray:
    t = np.arange(16000) / 8000.0
    return 0.5 * np.sin(2 * np.pi * f1 * t) + 0.3 * np.sin(2 * np.pi * f2 * t)


def test_media_capstone_flatness_gate(spark):
    """Round-10 brief #1: the round-9 over-cluster mitigation is now
    reachable FROM the capstone. Three DISTINCT tonal clips — the class
    measured over-clustering 600->82 inside this very pipeline — are
    counted + dropped at min_flatness=0.1 (sparse_spectrum_rows on the
    ledger) instead of fingerprinted; broadband clips survive as
    distinct; default 0.0 is pinned to the old behavior (tonal clips
    enter the fingerprint space)."""
    rows = [
        (60, bytearray(encode_wav(_tone_clip(440, 900), 8000))),
        (61, bytearray(encode_wav(_tone_clip(500, 1200), 8000))),
        (62, bytearray(encode_wav(_tone_clip(300, 1700), 8000))),
        (70, bytearray(encode_wav(_broadband_clip(1, [300, 700]), 8000))),
        (71, bytearray(encode_wav(_broadband_clip(2, [1200, 1800]), 8000))),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    obs = Observation("flat_capstone")
    out = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096, min_flatness=0.1,
        observation=obs,
    )
    assert {r.media_id for r in out.collect()} == {70, 71}
    assert obs.get["sparse_spectrum_rows"] == 3
    assert obs.get["decoded_audio_rows"] == 2
    assert obs.get["rows"] == 5
    # default-off pinned: the gate does not fire, every clip enters the
    # fingerprint space (the tonal ones may then falsely cluster — the
    # measured hazard the gate exists for; at minimum the lowest-id
    # representative of any false cluster survives)
    obs2 = Observation("flat_capstone_off")
    out2 = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096, observation=obs2
    )
    got2 = {r.media_id for r in out2.collect()}
    assert obs2.get["sparse_spectrum_rows"] == 0
    assert obs2.get["decoded_audio_rows"] == 5
    assert {70, 71} <= got2 and 60 in got2


def test_media_capstone_cross_container_audio(spark):
    """Round-10 brief #2: a WAV rip of an AVI's PCM soundtrack is
    removed end-to-end with demux_av=True — a pair the modality-keyed
    engine can never form (WAV fingerprints live in 'audio', the AVI
    in 'video'). The drop is ASYMMETRIC: the rip has the LOWER id here,
    and still drops — the video carries strictly more than its track,
    so keep-lowest never arbitrates across containers. The ledger
    counts demuxed tracks; default-off behavior is pinned."""
    clip = _clip(7)
    rows = [
        (5, bytearray(encode_wav(clip, 8000))),  # the rip (lowest id!)
        (30, bytearray(encode_avi_mjpeg(_vid(8), quant=1, audio=clip, audio_rate=8000))),
        (22, bytearray(encode_wav(_clip(4), 8000))),  # distinct audio
        (33, bytearray(encode_avi_mjpeg(_vid(9), quant=1))),  # audio-less AVI
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    obs = Observation("cross_container")
    out = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096, demux_av=True,
        observation=obs,
    )
    got = {r.media_id: r.modality for r in out.collect()}
    assert set(got) == {30, 22, 33}
    # the shadow track row never leaks into the output
    assert got[30] == "video" and "audio_track" not in got.values()
    assert obs.get["demuxed_track_rows"] == 1  # the audio-less AVI emits none
    assert obs.get["rows"] == 4  # shadow rows are not input payloads
    assert obs.get["decoded_video_rows"] == 2
    # default off: the rip survives (the round-9 behavior, unchanged)
    out2 = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096
    )
    assert {r.media_id for r in out2.collect()} == {5, 30, 22, 33}


def test_media_capstone_per_modality_hamming(spark):
    """max_hamming as a dict tightens ONE modality without touching the
    others: the planted video re-encode pair sits at hamming exactly 1
    (dev-measured, seed-pinned), so {'video': 0} keeps both cuts while
    image/audio near-dups still drop at the default 3. Validation:
    unknown modality keys and thresholds past the 4-band pigeonhole
    bound raise."""
    media = _mixed_corpus(spark)
    out = corpus_prepare_media_training_set(
        spark, media, shard_budget_bytes=4096, max_hamming={"video": 0}
    )
    got = {r.media_id for r in out.collect()}
    assert got == {10, 12, 20, 22, 30, 31, 32}  # 31 kept, 11/21 still drop
    with pytest.raises(ValueError, match="max_hamming keys"):
        corpus_prepare_media_training_set(
            spark, media, max_hamming={"text": 2}
        )
    with pytest.raises(ValueError, match="pigeonhole"):
        corpus_prepare_media_training_set(
            spark, media, max_hamming={"audio": 4}
        )


def test_media_fingerprint_bands_demux_and_gate_ledger(spark):
    """Function-level contract of the round-10 params: demux_av emits
    one shadow 'audio_track' row per PCM-carrying AVI (id = parent,
    n_bytes 0, all four bands set) and min_flatness gates BOTH
    standalone audio and demuxed tracks into sparse_spectrum_rows."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )

    tone = _tone_clip(440, 900)
    rows = [
        (1, bytearray(encode_wav(_broadband_clip(3, [400, 900]), 8000))),
        (2, bytearray(encode_wav(tone, 8000))),  # gated standalone
        (3, bytearray(encode_avi_mjpeg(_vid(5), quant=1, audio=_broadband_clip(4, [1000, 1600]), audio_rate=8000))),
        (4, bytearray(encode_avi_mjpeg(_vid(6), quant=1, audio=tone, audio_rate=8000))),  # gated track
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    obs = Observation("demux_gate")
    out = media_fingerprint_bands(
        media, observation=obs, min_flatness=0.1, demux_av=True
    ).collect()
    by_key = {(r.id, r.modality): r for r in out}
    assert set(by_key) == {
        (1, "audio"), (3, "video"), (4, "video"), (3, "audio_track"),
    }
    shadow = by_key[(3, "audio_track")]
    assert shadow.n_bytes == 0 and shadow.band0 is not None
    assert obs.get["rows"] == 4
    assert obs.get["decoded_rows"] == 3  # 1, 3, 4 — the shadow is extra
    assert obs.get["demuxed_track_rows"] == 1
    assert obs.get["sparse_spectrum_rows"] == 2  # the WAV tone + 4's track


def test_corpus_prepare_unified_training_set_end_to_end(spark):
    """Round-10 brief #3: ONE training-set build over text AND media.
    Survivor sets match the two single-modality capstones exactly (the
    shared helpers make divergence impossible); planted cross-doc dups
    (organic near-dups in the sf0.01 documents table via corpus_clean)
    AND cross-format media dups (progressive JPEG, FLAC twin, AVI
    re-encode, md5 copy) are removed; eval decontamination stays exact;
    the split coin is ONE md5 coin over the unified item_id space; text
    packs by tokens and media by bytes into one contiguous shard
    sequence; the combined ledger reads in one place."""
    from tests.conftest import SF_CORRECT

    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_media_training_set,
        corpus_prepare_training_set,
        corpus_prepare_unified_training_set,
    )
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split

    media = _mixed_corpus(spark)
    ledger: dict = {}
    spark.catalog.clearCache()
    try:
        with cache_scope() as held:
            rows = corpus_prepare_unified_training_set(
                spark, SF_CORRECT, media,
                token_budget=500, media_budget_bytes=4096,
                ledger=ledger,
            ).collect()
        assert rows
        assert held, "capstone must register its persisted intermediates"
        assert cache_manager_empty(spark)
        got = {r.item_id: r for r in rows}
        text_ids = {int(i[4:]) for i in got if i.startswith("doc:")}
        media_ids = {int(i[6:]) for i in got if i.startswith("media:")}

        # survivor sets == the single-modality capstones' (shared helpers)
        with cache_scope():
            want_text = {
                r.doc_id
                for r in corpus_prepare_training_set(
                    spark, SF_CORRECT, token_budget=500
                ).collect()
            }
        with cache_scope():
            want_media = {
                r.media_id
                for r in corpus_prepare_media_training_set(
                    spark, media, shard_budget_bytes=4096
                ).collect()
            }
        assert text_ids == want_text
        assert media_ids == want_media == {10, 12, 20, 22, 30, 32}
        # eval slice excluded (decontamination exactness is pinned by
        # the text capstone's own test over the same shared helper)
        assert all(d % 97 != 0 for d in text_ids)

        # quality: real score on text, NULL on media
        assert all(got[f"doc:{d}"].quality is not None for d in text_ids)
        assert all(got[f"media:{m}"].quality is None for m in media_ids)
        # n_units: tokens for text, payload bytes for media
        payloads = {r.media_id: len(r.payload) for r in media.collect()}
        assert all(got[f"media:{m}"].n_units == payloads[m] for m in media_ids)

        # ONE split coin over the unified id space
        ids = spark.createDataFrame(
            [(i,) for i in got], "item_id string"
        )
        want_split = {
            r.item_id: r.split for r in assign_split(ids, "item_id").collect()
        }
        assert all(r.split == want_split[i] for i, r in got.items())

        # one shard sequence: text shards [0..T-1] by TOKEN budget,
        # media shards [T..] by BYTE budget — replay both rules
        text_train = sorted(
            (r for r in rows if r.modality == "text" and r.split == "train"),
            key=lambda r: int(r.item_id[4:]),
        )
        media_train = sorted(
            (r for r in rows if r.modality != "text" and r.split == "train"),
            key=lambda r: int(r.item_id[6:]),
        )
        cum = 0
        for r in text_train:
            assert r.shard_id == cum // 500
            cum += r.n_units
        n_text_shards = (text_train[-1].shard_id + 1) if text_train else 0
        assert ledger["text_shards"] == n_text_shards
        cum = 0
        for r in media_train:
            assert r.shard_id == n_text_shards + cum // 4096
            cum += r.n_units
        assert all(r.shard_id is None for r in rows if r.split != "train")

        # combined ledger: media gate + per-modality survivor counts
        assert ledger["media_gate"]["rows"] == 11  # md5 dedup ran first
        assert ledger["media_gate"]["decoded_rows"] == 9
        assert ledger["media_gate"]["failed_decode_rows"] == 1
        assert ledger["media_gate"]["unrecognized_rows"] == 1
        by_mod = ledger["survivors_by_modality"]
        assert by_mod["text"] == len(text_ids)
        assert sum(v for k, v in by_mod.items() if k != "text") == len(media_ids)
    finally:
        spark.catalog.clearCache()


def test_unified_capstone_empty_media(spark):
    """Text-only degenerate: an empty media frame leaves a pure text
    build — same schema, text shards from 0, no crash in the offset
    job over zero packed media rows."""
    from tests.conftest import SF_CORRECT

    from hadoop_20_warehouse_fix_spark.queries.corpus import (
        corpus_prepare_unified_training_set,
    )

    empty = spark.createDataFrame([], "media_id long, payload binary")
    try:
        rows = corpus_prepare_unified_training_set(
            spark, SF_CORRECT, empty, token_budget=500
        ).collect()
        assert rows and all(r.modality == "text" for r in rows)
        assert any(r.shard_id == 0 for r in rows if r.split == "train")
    finally:
        spark.catalog.clearCache()


def test_media_fingerprint_bands_empty_corpus_ledger_zeroes(spark):
    """Round-10 review catch: F.sum over zero rows is NULL — an empty
    corpus's ledger must read 0 everywhere, not None (downstream
    arithmetic on the counters would TypeError)."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )

    empty = spark.createDataFrame([], "media_id long, payload binary")
    obs = Observation("empty_gate")
    assert media_fingerprint_bands(empty, observation=obs).count() == 0
    got = dict(obs.get)
    assert got["rows"] == 0 and got["decoded_rows"] == 0
    assert all(v == 0 for v in got.values()), got
