"""Round-11 brief #2: persisted incremental MEDIA dedup state — the
crawl-ingest lifecycle text got in round 5 (write/append/probe/delete/
compact), on the media fingerprint space (image dHash / audio spectral
/ video frame-dHash, one Hamming band engine). Reference model:
MapFile/BloomMapFile as persistent probe-able state
(/root/reference/src/core/org/apache/hadoop/io/MapFile.java:49,
BloomMapFile.java:45).

The correctness pin mirrors the text state's: the probe of
(state + appended batches) must equal the CROSS-corpus slice of a full
fingerprint rerun over corpus ∪ batches — computed here through the
capstone's own independent pair path (media_fingerprint_bands →
hamming_pairs_from_bands with space key_cols), not through the probe's
join — before AND after compaction; tombstoned payloads are suppressed
at probe and physically gone after compact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.functions.audio import encode_wav
from hadoop_20_warehouse_fix_spark.functions.flac import encode_flac
from hadoop_20_warehouse_fix_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
)
from hadoop_20_warehouse_fix_spark.functions.video import encode_avi_mjpeg
from hadoop_20_warehouse_fix_spark.operators.dedup import (
    media_state_append,
    media_state_compact,
    media_state_delete,
    media_state_probe,
    media_state_write,
)


def _clip(seed: int) -> np.ndarray:
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


IMG_A, IMG_B, IMG_C = _img(1), _img(2), _img(7)
CLIP_A, CLIP_B, CLIP_V = _clip(3), _clip(4), _clip(6)
VID_A, VID_B = _vid(5), _vid(6)


def _shaped_clip(seed: int) -> np.ndarray:
    """Shaped-noise clip (the round-11 generator recipe): a random 8x9
    log-band energy grid — distinct seeds give fingerprints ~14+ bits
    apart, where sine mixes (_clip) can collide within the Hamming
    threshold (sparse-spectrum physics, SCALING.md r9/r11)."""
    r = np.random.default_rng(seed)
    edges = 100.0 * (2000.0 / 100.0) ** (np.arange(10) / 9)
    n = 2000
    freqs = np.fft.rfftfreq(n, 1 / 8000.0)
    segs = []
    for _ in range(8):
        mag = np.full(freqs.shape, 0.04)
        hi = r.random(9) < 0.5
        while hi.sum() < 2 or hi.sum() > 7:
            hi = r.random(9) < 0.5
        for b in range(9):
            sel = (freqs >= edges[b]) & (freqs < edges[b + 1])
            nb = max(int(sel.sum()), 1)
            mag[sel] = (2.83 if hi[b] else 1.0) / np.sqrt(nb)
        segs.append(np.fft.irfft(mag * np.exp(1j * r.uniform(0, 2 * np.pi, freqs.shape)), n))
    clip = np.concatenate(segs)
    return clip / (np.abs(clip).max() + 1e-9) * 0.6


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "media_id long, payload binary"
    )


def _corpus_rows():
    return [
        (10, encode_jpeg(IMG_A, quant=8)),
        (12, encode_jpeg(IMG_B, quant=8)),
        (20, encode_wav(CLIP_A, 8000)),
        (22, encode_wav(CLIP_B, 8000)),
        # video WITH a soundtrack: demux_av plants an audio_track shadow row
        (30, encode_avi_mjpeg(VID_A, quant=1, audio=CLIP_V, audio_rate=8000)),
        (32, encode_avi_mjpeg(VID_B, quant=1)),
    ]


def _batch1_rows():
    return [
        (105, encode_wav(CLIP_V, 8000)),  # WAV rip of video 30's soundtrack
        (111, encode_jpeg_progressive(IMG_A, quant=8)),  # dup of image 10
        (121, encode_flac(CLIP_A, 8000)),  # FLAC twin of WAV 20
        (130, encode_avi_mjpeg(VID_A, quant=4)),  # re-encode of video 30
        (150, encode_wav(_clip(9), 8000)),  # distinct audio
    ]


def _batch2_rows():
    return [
        (210, encode_jpeg(IMG_A, quant=8)),  # dup of 10 AND of batch-1's 111
        (212, encode_jpeg(IMG_C, quant=8)),  # distinct image
    ]


def _full_rerun_cross_pairs(spark, all_rows, corpus_ids, batch_ids, max_hamming=3):
    """Independent reference: the capstone's own pair machinery over the
    UNION corpus, restricted to cross (corpus, batch) pairs."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        hamming_pairs_from_bands,
    )

    bands = media_fingerprint_bands(_df(spark, all_rows), demux_av=True)
    spaced = bands.withColumn(
        "space",
        F.when(F.col("modality") == "audio_track", F.lit("audio")).otherwise(
            F.col("modality")
        ),
    )
    pairs = hamming_pairs_from_bands(spaced, max_hamming, key_cols=["space"])
    got = set()
    for r in pairs.collect():
        lo, hi = r.id_a, r.id_b
        if lo in corpus_ids and hi in batch_ids:
            got.add((lo, hi, r.hamming))
        elif hi in corpus_ids and lo in batch_ids:
            got.add((hi, lo, r.hamming))
    return got


def _probe_set(df):
    return {(r.id_a, r.id_b, r.hamming) for r in df.collect()}


def test_media_state_lifecycle_probe_equals_rerun(spark, tmp_path):
    state = "media_state_lc"
    corpus_ids = {i for i, _ in _corpus_rows()}
    b1_ids = {i for i, _ in _batch1_rows()}
    try:
        media_state_write(
            _df(spark, _corpus_rows()), state, demux_av=True, num_buckets=4,
            path=str(tmp_path / "st"),
        )
        batch1 = _df(spark, _batch1_rows())
        got1 = _probe_set(media_state_probe(batch1, state))
        want1 = _full_rerun_cross_pairs(
            spark, _corpus_rows() + _batch1_rows(), corpus_ids, b1_ids
        )
        assert got1 == want1 and got1
        # the planted shapes actually surfaced: in-modality dups and the
        # cross-container rip (corpus video 30's track vs batch WAV 105)
        flat = {(a, b) for a, b, _ in got1}
        assert {(10, 111), (20, 121), (30, 130), (30, 105)} <= flat
        # distinct items pair with nothing
        assert not [p for p in flat if p[1] == 150]

        # ints and equivalent dicts agree; bad dict keys raise
        got_dict = _probe_set(
            media_state_probe(batch1, state, {"image": 3, "audio": 3, "video": 3})
        )
        assert got_dict == got1
        with pytest.raises(ValueError, match="max_hamming"):
            media_state_probe(batch1, state, {"text": 1})
        # thresholds past the pigeonhole recall guarantee are refused,
        # never silently under-recalled (round-11 review)
        with pytest.raises(ValueError, match="Hamming <= 3"):
            media_state_probe(batch1, state, 4)
        with pytest.raises(ValueError, match="Hamming <= 3"):
            media_state_probe(batch1, state, {"audio": 5})

        # fold batch 1 in; a second batch must now match corpus AND batch 1
        media_state_append(batch1, state)
        b2_ids = {i for i, _ in _batch2_rows()}
        batch2 = _df(spark, _batch2_rows())
        got2 = _probe_set(media_state_probe(batch2, state))
        want2 = _full_rerun_cross_pairs(
            spark,
            _corpus_rows() + _batch1_rows() + _batch2_rows(),
            corpus_ids | b1_ids,
            b2_ids,
        )
        assert got2 == want2
        assert {(10, 210), (111, 210)} <= {(a, b) for a, b, _ in got2}

        # compaction: fewer-or-equal files, identical probe semantics
        report = media_state_compact(spark, state)
        (before, after) = report[f"{state}_bands"]
        assert after <= before
        assert _probe_set(media_state_probe(batch2, state)) == got2

        # a bad id refuses under the media op's own name, writing nothing
        with pytest.raises(ValueError, match="media_state_delete"):
            media_state_delete(spark, state, ["not-an-id"])
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        # tombstone image 10: suppressed at probe immediately...
        media_state_delete(spark, state, [10])
        got_del = _probe_set(media_state_probe(batch2, state))
        assert got_del == {t for t in got2 if t[0] != 10}
        # ...and physically gone after compact, tombstones cleared
        media_state_compact(spark, state)
        assert spark.table(f"{state}_bands").filter(F.col("id") == 10).count() == 0
        assert not spark.catalog.tableExists(f"{state}_tombstones")
        assert _probe_set(media_state_probe(batch2, state)) == got_del
    finally:
        for t in ("bands", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_stream_media_dedup_ingest_uses_and_updates_state(spark, tmp_path):
    """Round 11: the media state's production shape — the media twin of
    stream_dedup_ingest. Batch 1 plants: a re-encode of a corpus image
    (corpus dup), a fresh image + its re-encode (batch dup, higher id
    drops), a WAV rip of a corpus video's soundtrack (cross-container
    corpus drop), and a fresh WAV. Batch 2 re-sends the fresh image
    (caught by the state batch 1 updated) plus a genuinely new image.
    Replay of the drained source is a no-op."""
    from hadoop_20_warehouse_fix_spark.streaming import stream_media_dedup_ingest

    state = "media_state_stream"
    d = str(tmp_path / "media_landing")
    out_p, dup_p = str(tmp_path / "m_clean"), str(tmp_path / "m_dup")
    ckpt = str(tmp_path / "m_ckpt")

    def drain():
        sdf = spark.readStream.schema("media_id long, payload binary").parquet(d)
        stream_media_dedup_ingest(sdf, state, out_p, ckpt, dup_path=dup_p)

    img_fresh, img_new2 = _img(11), _img(12)
    try:
        media_state_write(
            _df(spark, _corpus_rows()), state, demux_av=True, num_buckets=4,
            path=str(tmp_path / "st"),
        )
        _df(spark, [
            (1010, encode_jpeg_progressive(IMG_A, quant=8)),  # corpus dup of 10
            (1020, encode_jpeg(img_fresh, quant=8)),          # fresh
            (1021, encode_jpeg_progressive(img_fresh, quant=8)),  # batch dup of 1020
            (1030, encode_wav(CLIP_V, 8000)),                 # rip of corpus video 30's track
            (1040, encode_wav(_shaped_clip(21), 8000)),       # fresh audio
        ]).coalesce(1).write.mode("append").parquet(d)
        drain()
        _df(spark, [
            (2010, encode_jpeg(img_fresh, quant=8)),  # dup of batch-1 survivor 1020
            (2020, encode_jpeg(img_new2, quant=8)),   # fresh
        ]).coalesce(1).write.mode("append").parquet(d)
        drain()

        clean = {r.media_id for r in spark.read.parquet(out_p).collect()}
        assert clean == {1020, 1040, 2020}
        dups = {(r.media_id, r.reason) for r in spark.read.parquet(dup_p).collect()}
        assert dups == {
            (1010, "corpus"), (1021, "batch"), (1030, "corpus"), (2010, "corpus"),
        }
        log = sorted(r.batch_id for r in spark.table(f"{state}_ingest_log").collect())
        assert log == [0, 1]
        state_ids = {r.id for r in spark.table(f"{state}_bands").select("id").collect()}
        assert {1020, 1040, 2020} <= state_ids and 1021 not in state_ids
        # replay: nothing changes
        drain()
        assert {r.media_id for r in spark.read.parquet(out_p).collect()} == clean
        assert sorted(
            r.batch_id for r in spark.table(f"{state}_ingest_log").collect()
        ) == [0, 1]
    finally:
        for t in ("bands", "meta", "tombstones", "ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_media_state_probe_shuffles_batch_not_corpus(spark, tmp_path):
    """The 100 TB contract: the probe plan must read the state bucketed
    (no Exchange on the corpus side) — only the batch's band rows
    shuffle. Same plan discipline as the text state. At TEST scale the
    state is tiny, so the planner correctly broadcasts it instead (the
    better plan when it fits); the bucketed shape this pins is the one
    that takes over past the broadcast threshold — so broadcast is
    disabled for the assertion."""
    import re

    from hadoop_20_warehouse_fix_spark.plans.inspect import plan_summary

    state = "media_state_plan"
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        media_state_write(
            _df(spark, _corpus_rows()), state, demux_av=True, num_buckets=4,
            path=str(tmp_path / "st"),
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = media_state_probe(_df(spark, _batch1_rows()), state)
        s = plan_summary(probe)
        assert f"{state}_bands" in s.text, "probe must scan the persisted bands table"
        # the bands-table scan must feed its join WITHOUT an Exchange in
        # between: in the formatted tree, no Exchange node may appear on
        # the path from the scan line up to the SortMergeJoin — the
        # bucketed (bi, bv) layout IS the join partitioning. The batch
        # side shuffles (its band rows + the distinct), nothing else.
        tree = s.text.split("\n\n", 1)[0]
        lines = tree.splitlines()
        scan_line = next(
            i for i, ln in enumerate(lines) if f"{state}_bands" in ln and "Scan" in ln
        )
        indent = len(lines[scan_line]) - len(lines[scan_line].lstrip(" :+-*"))
        for i in range(scan_line - 1, -1, -1):
            ln = lines[i]
            cur = len(ln) - len(ln.lstrip(" :+-*"))
            if cur < indent:
                indent = cur
                if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln:
                    break
                assert not re.search(r"\bExchange\b", ln), (
                    f"corpus state scan re-shuffled:\n{tree}"
                )
        # whole probe: batch bands exchange + distinct exchange only
        assert s.num_exchanges <= 2, s.text
        assert s.num_sortmerge_joins == 1, s.text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        for t in ("bands", "meta", "tombstones"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()
