"""Structured Streaming tests: file-source landing dir, watermarked
windows, custom stateful operator, streaming demux sink — the §2.10
extension driven end-to-end (streaming result == batch result)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.streaming import (
    run_available_now,
    stateful_running_agg,
    stream_demux,
    stream_events,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"
EVENTS_SCHEMA_STR = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
)


@pytest.fixture()
def landing(spark, tmp_path):
    """Two parquet files in a landing dir (simulates two arrivals)."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table

    d = str(tmp_path / "landing")
    ev = load_table(spark, SF, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(d)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    return d


def test_tumbling_stream_matches_batch(spark, landing, tmp_path):
    sdf = stream_events(spark, landing, max_files_per_trigger=1)
    out = tumbling_agg(sdf, window_size="1 hour", watermark="2 hours")
    got = run_available_now(out, str(tmp_path / "ckpt"), "tumbling_t", "complete")
    batch = tumbling_agg(spark.read.parquet(landing), window_size="1 hour")
    assert {(r.win_start, r.cnt) for r in got.collect()} == {
        (r.win_start, r.cnt) for r in batch.collect()
    }
    assert got.count() > 0


def test_stateful_running_agg(spark, landing, tmp_path):
    sdf = stream_events(spark, landing)
    out = stateful_running_agg(sdf, key_col="user_id", value_col="value")
    got = run_available_now(out, str(tmp_path / "ckpt2"), "stateful_t", "update")
    # Last update per key == full batch totals.
    final = {r.user_id: (r.cnt, round(r.total, 3)) for r in got.collect()}
    ev = spark.read.parquet(landing)
    expect = {
        r.user_id: (r.cnt, round(r.total, 3))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total"))
        .collect()
    }
    assert final == expect


def test_stream_demux_partitions(spark, landing, tmp_path):
    sdf = stream_events(spark, landing)
    out_dir = str(tmp_path / "demux_out")
    stream_demux(sdf, out_dir, "event_type", str(tmp_path / "ckpt3"))
    types = {r.event_type for r in spark.read.parquet(landing).select("event_type").distinct().collect()}
    dirs = {d.rsplit("=", 1)[-1] for d in glob.glob(out_dir + "/event_type=*")}
    assert dirs == types
    assert spark.read.parquet(out_dir).count() == spark.read.parquet(landing).count()


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The watermark must actually ENFORCE lateness, not just annotate
    it: a row arriving (in a later file, same checkpoint) with an event
    time far below the persisted watermark is excluded from windowed
    counts, while the batch aggregate over the same files counts it —
    the divergence IS the late-drop contract."""
    from pyspark.sql import Row
    from datetime import datetime

    d = str(tmp_path / "landing_wm")
    ckpt = str(tmp_path / "ckpt_wm")

    def land(rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA_STR).coalesce(1).write.mode("append").parquet(d)

    def ev(i, ts):
        return Row(event_id=i, ts=ts, user_id=1, event_type="c", value=1.0, props="{}")

    # file 1: two on-time rows in hour 0 and one at hour 10 that drives
    # the watermark (1h delay) far past hour 0's window end
    land([
        ev(1, datetime(2000, 1, 1, 0, 10)),
        ev(2, datetime(2000, 1, 1, 0, 20)),
        ev(3, datetime(2000, 1, 1, 10, 0)),
    ])

    out_dir = str(tmp_path / "wm_out")

    def drain():
        # parquet sink: the append-mode sink that supports checkpoint
        # recovery (memory sink only recovers in complete mode)
        sdf = stream_events(spark, d)
        out = tumbling_agg(sdf, window_size="1 hour", watermark="1 hour")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {(r.win_start, r.cnt) for r in spark.read.parquet(out_dir).collect()}

    run1 = drain()
    # hour-0 window closed and emitted with exactly the 2 on-time rows
    assert (datetime(2000, 1, 1, 0, 0), 2) in run1

    # file 2: a LATE row for hour 0, far below the persisted watermark
    land([ev(4, datetime(2000, 1, 1, 0, 30))])
    run2_new = drain() - run1
    # the late row must not re-open or re-emit the hour-0 window
    assert not any(ws == datetime(2000, 1, 1, 0, 0) for ws, _ in run2_new), run2_new

    # the batch aggregate over the same files DOES count it — proving
    # the stream's omission was the watermark, not data loss
    batch = tumbling_agg(spark.read.parquet(d), window_size="1 hour")
    bc = {(r.win_start, r.cnt) for r in batch.collect()}
    assert (datetime(2000, 1, 1, 0, 0), 3) in bc


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill-and-resume: drain batch 1, STOP, land more files, restart
    from the SAME checkpoint — the resumed query must process ONLY the
    new files (exactly-once over the file-source log) and the final
    state must equal the all-data batch aggregate. This is the recovery
    contract a 24/7 ingest pipeline leans on after any executor/driver
    loss."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table

    d = str(tmp_path / "landing_cr")
    ckpt = str(tmp_path / "ckpt_cr")
    ev = load_table(spark, SF, "events")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(d)

    def drain(qname):
        sdf = stream_events(spark, d)
        counts = sdf.groupBy("event_type").agg(
            F.count("*").alias("cnt"), F.sum("value").alias("total")
        )
        return run_available_now(counts, ckpt, qname, "complete")

    first = {r.event_type: r.cnt for r in drain("cr_run1").collect()}
    # second arrival AFTER the first drain completed
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(d)
    second = {r.event_type: (r.cnt, round(r.total, 2)) for r in drain("cr_run2").collect()}

    batch = {
        r.event_type: (r.cnt, round(r.total, 2))
        for r in spark.read.parquet(d)
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("total"))
        .collect()
    }
    assert second == batch  # resumed state + only-new-files == full answer
    assert any(second[k][0] > first.get(k, 0) for k in second)  # run 2 really advanced


def test_stream_dedup_ingest_uses_and_updates_state(spark, tmp_path):
    """Round-7: the LSH state's production shape — an always-on ingest
    that drops (a) within-batch near-dups (greedy min-id), (b) docs
    already in the corpus state, then folds survivors INTO the state so
    a later batch's copy of an earlier batch's doc is caught. Replay of
    a fully-processed source is a no-op (ledger + idempotent writes)."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators.dedup import minhash_state_write
    from hadoop_20_warehouse_fix_spark.streaming import stream_dedup_ingest

    def words(tag):
        return " ".join(f"{tag}w{i}" for i in range(30))

    corpus = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 150
    )
    corpus_text = corpus.filter(F.col("doc_id") == 5).collect()[0].text
    state = "mh_state_stream"
    d = str(tmp_path / "docs_landing")
    out_p, dup_p = str(tmp_path / "clean_out"), str(tmp_path / "dup_out")
    ckpt = str(tmp_path / "ckpt_ingest")

    def drain():
        sdf = spark.readStream.schema("doc_id long, text string").parquet(d)
        stream_dedup_ingest(
            sdf, "doc_id", "text", state, out_p, ckpt, threshold=0.5, dup_path=dup_p
        )

    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state"),
        )
        fresh1, fresh2 = words("aa"), words("bb")
        spark.createDataFrame(
            [(10000, corpus_text), (10001, fresh1), (10002, fresh1)],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(d)
        drain()
        # second arrival AFTER batch 1 updated the state
        spark.createDataFrame(
            [(20000, fresh1), (20001, fresh2)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(d)
        drain()

        clean = {r.doc_id for r in spark.read.parquet(out_p).collect()}
        assert clean == {10001, 20001}
        dups = {(r.doc_id, r.reason) for r in spark.read.parquet(dup_p).collect()}
        assert dups == {(10000, "corpus"), (10002, "batch"), (20000, "corpus")}
        log = sorted(r.batch_id for r in spark.table(f"{state}_ingest_log").collect())
        assert log == [0, 1]
        # survivors are IN the state now
        state_ids = {r.id for r in spark.table(f"{state}_shingles").select("id").collect()}
        assert {10001, 20001} <= state_ids and 10002 not in state_ids
        # no new files: a third drain changes nothing anywhere
        drain()
        assert {r.doc_id for r in spark.read.parquet(out_p).collect()} == clean
        assert sorted(
            r.batch_id for r in spark.table(f"{state}_ingest_log").collect()
        ) == [0, 1]
    finally:
        for t in ("bands", "shingles", "meta", "tombstones", "ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_stream_dedup_ingest_replay_after_state_append_crash(spark, tmp_path):
    """Round-7 ADVICE: the one non-atomic seam is a crash between
    state-append (step 4) and ledger-write (step 5). On replay the
    batch's own rows are already IN the state, so without the
    self-pair guard every survivor matched ITSELF at jaccard 1.0 —
    clean became empty and (with dup_path set) the dup partition was
    dynamically overwritten, mislabeling every survivor as a 'corpus'
    duplicate. The replay must reproduce the original outputs."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators.dedup import minhash_state_write
    from hadoop_20_warehouse_fix_spark.streaming import stream_dedup_ingest

    corpus = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    corpus_text = corpus.filter(F.col("doc_id") == 5).collect()[0].text
    fresh = " ".join(f"crashw{i}" for i in range(30))
    state = "mh_state_crash"
    d = str(tmp_path / "landing_crash")
    out_p, dup_p = str(tmp_path / "clean_crash"), str(tmp_path / "dup_crash")
    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state_crash"),
        )
        spark.createDataFrame(
            [(30000, corpus_text), (30001, fresh)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(d)

        def drain(ckpt):
            sdf = spark.readStream.schema("doc_id long, text string").parquet(d)
            stream_dedup_ingest(
                sdf, "doc_id", "text", state, out_p, ckpt,
                threshold=0.5, dup_path=dup_p,
            )

        drain(str(tmp_path / "ckpt_crash_1"))
        want_clean = {r.doc_id for r in spark.read.parquet(out_p).collect()}
        want_dups = {(r.doc_id, r.reason) for r in spark.read.parquet(dup_p).collect()}
        assert want_clean == {30001}
        assert want_dups == {(30000, "corpus")}
        # simulate the crash seam: state holds batch 0's survivors (the
        # append ran), but the ledger write never happened — then replay
        # from a fresh checkpoint so foreachBatch re-fires batch 0.
        log_t = f"{state}_ingest_log"
        spark.createDataFrame([], "batch_id long").write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(log_t)
        drain(str(tmp_path / "ckpt_crash_2"))
        assert {r.doc_id for r in spark.read.parquet(out_p).collect()} == want_clean
        assert {
            (r.doc_id, r.reason) for r in spark.read.parquet(dup_p).collect()
        } == want_dups
        assert sorted(r.batch_id for r in spark.table(log_t).collect()) == [0]
    finally:
        for t in ("bands", "shingles", "meta", "tombstones", "ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_stream_dedup_ingest_respects_tombstones(spark, tmp_path):
    """Integration of the round-7 lifecycle: a corpus doc DELETED from
    the LSH state (tombstone) must not suppress a new copy arriving in
    the stream — the copy is effectively the doc's re-ingestion and
    must land in the clean output (and back in the state)."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_state_delete,
        minhash_state_write,
    )
    from hadoop_20_warehouse_fix_spark.streaming import stream_dedup_ingest

    corpus = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 100
    )
    state = "mh_state_stream_ts"
    d = str(tmp_path / "landing_ts")
    out_p, ckpt = str(tmp_path / "clean_ts"), str(tmp_path / "ckpt_ts")
    try:
        minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state_ts"),
        )
        # pick docs whose ONLY near-dup in the corpus is themselves (the
        # testdata plants near-dup pairs; a copy of a paired doc would
        # also match the pair's live partner and break the assertion)
        from hadoop_20_warehouse_fix_spark.operators.dedup import ngram_jaccard_pairs

        paired = set()
        for row in ngram_jaccard_pairs(corpus, "doc_id", "text", 3, 0.5).collect():
            paired.add(row.id_a)
            paired.add(row.id_b)
        lone = sorted(
            r.doc_id for r in corpus.select("doc_id").collect() if r.doc_id not in paired
        )
        keep_id, gone_id = lone[0], lone[1]
        kept_text = corpus.filter(F.col("doc_id") == keep_id).collect()[0].text
        gone_text = corpus.filter(F.col("doc_id") == gone_id).collect()[0].text
        minhash_state_delete(spark, state, [gone_id])
        spark.createDataFrame(
            [(50007, kept_text), (50008, gone_text)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(d)
        sdf = spark.readStream.schema("doc_id long, text string").parquet(d)
        stream_dedup_ingest(sdf, "doc_id", "text", state, out_p, ckpt, threshold=0.5)
        clean = {r.doc_id for r in spark.read.parquet(out_p).collect()}
        # 50007 duplicates a LIVE corpus doc -> dropped; 50008 duplicates
        # only a TOMBSTONED doc -> re-ingested as clean
        assert clean == {50008}
        state_ids = {r.id for r in spark.table(f"{state}_shingles").select("id").collect()}
        assert 50008 in state_ids and 50007 not in state_ids
    finally:
        for t in ("bands", "shingles", "meta", "tombstones", "ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()


def test_session_window_exact_gap_boundary_merges(spark):
    """Round-9 organic replay catch: Spark's session_window MERGES an
    event at exactly last_ts + gap (inclusive window end), so the
    classic lag-based sessionization oracle must split on gap > 600,
    not >= 600. Invisible on microsecond timestamps; a
    second-granularity corpus produced 25 exact-gap pairs that the old
    oracle split and Spark merged."""
    from pyspark.sql import functions as F

    from hadoop_20_warehouse_fix_spark.streaming.windows import session_agg

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # gap == 600
         (2, "2024-01-01 00:00:00"), (2, "2024-01-01 00:09:59"),  # gap 599
         (3, "2024-01-01 00:00:00"), (3, "2024-01-01 00:10:01")],  # gap 601
        "user_id long, ts_s string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    out = session_agg(ev, gap="10 minutes", key_cols=["user_id"])
    sessions = sorted((r.user_id, r.cnt) for r in out.collect())
    # user 1 (gap == 600) MERGES into one 2-event session; user 2 (599)
    # merges; user 3 (601) splits into two singletons
    assert sessions == [(1, 2), (2, 2), (3, 1), (3, 1)]


def test_stream_dedup_ingest_failed_batch_releases_its_cache(spark, tmp_path, monkeypatch):
    """A micro-batch that fails after persisting must not leave its
    cached frames behind: the batch's cache_scope releases them on the
    way out, and the query fails with the batch's own error."""
    from hadoop_20_warehouse_fix_spark.catalog import load_table
    from hadoop_20_warehouse_fix_spark.operators import dedup
    from hadoop_20_warehouse_fix_spark.streaming import stream_dedup_ingest
    from tests.conftest import cache_manager_empty

    corpus = load_table(spark, SF, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 50
    )
    state = "mh_state_fail"
    d = str(tmp_path / "landing_fail")

    def failing_append(*_args, **_kwargs):
        raise RuntimeError("planted state-append failure")

    try:
        dedup.minhash_state_write(
            corpus, "doc_id", "text", state, num_buckets=4,
            path=str(tmp_path / "state_fail"),
        )
        spark.createDataFrame(
            [(40000, " ".join(f"failw{i}" for i in range(30)))],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(d)
        monkeypatch.setattr(dedup, "minhash_state_append", failing_append)
        spark.catalog.clearCache()
        sdf = spark.readStream.schema("doc_id long, text string").parquet(d)
        with pytest.raises(Exception, match="planted state-append failure"):
            stream_dedup_ingest(
                sdf, "doc_id", "text", state,
                str(tmp_path / "out_fail"), str(tmp_path / "ckpt_fail"),
            )
        assert cache_manager_empty(spark), "failed micro-batch leaked cached frames"
    finally:
        for t in ("bands", "shingles", "meta", "tombstones", "ingest_log"):
            spark.sql(f"DROP TABLE IF EXISTS {state}_{t}")
        spark.catalog.clearCache()
