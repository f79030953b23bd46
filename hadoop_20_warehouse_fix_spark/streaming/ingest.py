"""Streaming ingest with state-backed near-dup removal.

The round-5/6 LSH state work (``operators/dedup.py``: write / append /
probe / delete / compact) exists for exactly one production shape: an
always-on ingest that deduplicates each arriving batch against a corpus
far too large to rescan. This module is that shape as a Structured
Streaming operator — the reference's landing-directory ingest
(periodic batch re-runs over newly-landed HDFS files; SURVEY §2.10)
upgraded to incremental execution with the dedup state as the
cross-batch memory.

Per micro-batch (``foreachBatch``):

1. WITHIN-batch near-dups: ``minhash_lsh_pairs`` on the batch alone
   (banding parameters read from the state's meta row, so batch and
   corpus agree by construction); every doc matching a SMALLER-id doc
   in the same batch is dropped (greedy min-id winner — deterministic,
   one pass, no per-batch connected components).
2. CROSS-corpus near-dups: ``minhash_lsh_pairs_incremental`` probes
   the persisted state — cost scales with the batch and its collision
   neighborhood, never the corpus (the SCALING.md flat-probe result).
3. Clean docs land under ``output_path/_batch_id=<id>/`` with dynamic
   partition overwrite — a replayed batch rewrites exactly its own
   partition (the ``stream_demux`` idempotence discipline). Dropped
   docs (with a ``reason`` column: ``batch`` | ``corpus``) land under
   ``dup_path`` the same way — the ``skip.out.dir`` analog.
4. Clean docs are folded into the state (``minhash_state_append``) —
   AFTER step 3 materialized the probe results, per the append-order
   caveat on the probe's lazy file listing.
5. The batch id is recorded in ``{state_name}_ingest_log`` LAST.

Exactly-once analysis (the honest version): the parquet outputs are
exactly-once (dynamic overwrite by batch id); the ledger makes a
replayed batch a full no-op. The one non-atomic seam is a crash
between steps 4 and 5 — the replay then re-appends the batch's rows
to the state, and the replayed probe sees the batch's OWN rows as
corpus rows. Two properties make that harmless: the probe filters
self-pairs (``id_a != id_b`` — a doc is never its own cross-corpus
duplicate), and the remaining duplicate state rows only widen the
candidate set (the probe ``distinct``s candidates and exact-verifies
every pair), so they cannot change a verdict; the next
``minhash_state_compact`` folds them away. A transactional state
table would need an external catalog; the reference accepted the
same seam in its rerun-the-batch-job recovery model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope, persisted


def stream_dedup_ingest(
    docs_stream: DataFrame,
    id_col: str,
    text_col: str,
    state_name: str,
    output_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    dup_path: str | None = None,
) -> None:
    """Drain ``docs_stream`` (availableNow trigger) through the dedup
    ingest described in the module docstring. ``docs_stream`` must be a
    STREAMING DataFrame carrying ``id_col`` (unique, monotone across
    batches for the greedy min-id policy to mean "first wins") and
    ``text_col``; the LSH state ``state_name`` must already exist
    (:func:`~..operators.dedup.minhash_state_write`)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_state_append,
    )
    from hadoop_20_warehouse_fix_spark.sources.writers import ensure_managed_creatable

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log_t = f"{state_name}_ingest_log"
        if (
            spark.catalog.tableExists(log_t)
            and spark.table(log_t).filter(F.col("batch_id") == batch_id).count() > 0
        ):
            return  # fully-processed batch replayed after a checkpoint crash
        # One scope per micro-batch: every frame this batch persisted
        # (its own and minhash_lsh_pairs' banded frame) is released when
        # the batch ends, on success or failure.
        with cache_scope():
            batch = persisted(batch_df.select(id_col, text_col))
            m = spark.table(f"{state_name}_meta").collect()[0]
            local_pairs = minhash_lsh_pairs(
                batch, id_col, text_col, m.n, m.num_hashes, m.bands, threshold
            )
            local_losers = local_pairs.select(F.col("id_b").alias(id_col)).distinct()
            survivors = batch.join(local_losers, id_col, "left_anti")
            # Self-pair guard (round-7 ADVICE): on replay after a crash
            # between state-append (step 4) and ledger-write (step 5), the
            # batch's own rows are already IN the state, so without this
            # filter every survivor matches itself at jaccard 1.0 and the
            # whole batch is mislabeled a "corpus" duplicate.
            cross = minhash_lsh_pairs_incremental(
                survivors, id_col, text_col, state_name, threshold
            ).filter(F.col("id_a") != F.col("id_b"))
            corpus_dups = cross.select(F.col("id_b").alias(id_col)).distinct()
            clean = persisted(survivors.join(corpus_dups, id_col, "left_anti"))
            (
                clean.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(output_path)
            )
            if dup_path is not None:
                dropped = batch.join(
                    local_losers.withColumn("reason", F.lit("batch")).unionByName(
                        corpus_dups.withColumn("reason", F.lit("corpus"))
                    ),
                    id_col,
                ).select(id_col, "reason")
                (
                    dropped.withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(dup_path)
                )
            # fold survivors into the state AFTER the writes above forced
            # the probe plan (lazy state file listing — append-order caveat)
            minhash_state_append(clean, id_col, text_col, state_name)
            ensure_managed_creatable(spark, log_t)
            spark.createDataFrame([(int(batch_id),)], "batch_id long").write.mode(
                "append"
            ).format("parquet").saveAsTable(log_t)

    q = (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_media_dedup_ingest(
    media_stream: DataFrame,
    state_name: str,
    output_path: str,
    checkpoint_dir: str,
    max_hamming: int | dict[str, int] = 3,
    dup_path: str | None = None,
) -> None:
    """The media twin of :func:`stream_dedup_ingest` (round 11): an
    always-on media ingest deduplicating each arriving batch of
    (media_id, payload) rows against the persisted fingerprint state
    (:func:`~..operators.dedup.media_state_write`) — the corpus is
    never re-decoded. Same five-step batch shape and the same
    exactly-once analysis as the text ingest (ledger table, dynamic
    partition overwrite, append-after-materialize, the documented
    crash seam between append and ledger neutralized by the self-pair
    filter).

    Per micro-batch:

    1. WITHIN-batch near-dups: one fingerprint pass (parameters from
       the state's meta row, so batch and corpus agree by
       construction), in-modality Hamming pairs — the higher media_id
       drops (greedy min-id winner, the text ingest's policy); when
       the state was written with ``demux_av``, standalone audio
       matching a batch video's demuxed soundtrack ALSO drops
       (asymmetric — the video always survives, the capstone rule).
    2. CROSS-corpus near-dups: :func:`~..operators.dedup.
       media_state_probe` — batch drops on in-modality pairs and on
       corpus-track vs batch-audio pairs (the rip arriving after its
       video); a batch VIDEO whose track matches corpus standalone
       audio survives (it carries strictly more), and track–track
       pairs are ignored (whether the videos are dups is the video
       fingerprint's call, made by the in-modality stage).
    3. Clean payloads land under ``output_path/_batch_id=<id>/``;
       dropped ids (+ ``reason``: ``batch`` | ``corpus``) under
       ``dup_path``.
    4. Clean payloads fold into the state (``media_state_append``).
    5. Batch id recorded in ``{state_name}_ingest_log`` LAST.

    Undecodable / gate-dropped payloads carry no fingerprint, match
    nothing, and pass through as clean: this operator's contract is
    DEDUP; quality/decodability filtering is the capstone's gate
    stage, which counts them."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        hamming_pairs_from_bands,
        media_hamming_thresholds,
        media_state_append,
        media_state_probe,
    )
    from hadoop_20_warehouse_fix_spark.sources.writers import ensure_managed_creatable

    thresholds = media_hamming_thresholds(max_hamming)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log_t = f"{state_name}_ingest_log"
        if (
            spark.catalog.tableExists(log_t)
            and spark.table(log_t).filter(F.col("batch_id") == batch_id).count() > 0
        ):
            return  # fully-processed batch replayed after a checkpoint crash
        # One scope per micro-batch, as in stream_dedup_ingest.
        with cache_scope():
            batch = persisted(batch_df.select("media_id", "payload"))
            m = spark.table(f"{state_name}_meta").collect()[0]
            bands = persisted(
                media_fingerprint_bands(
                    batch,
                    n_frames=m.n_frames,
                    min_flatness=m.min_flatness,
                    demux_av=m.demux_av,
                )
            )
            payload_bands = bands.filter(
                F.coalesce(F.col("modality") != "audio_track", F.lit(True))
            )
            widest = max(thresholds.values())
            pairs = hamming_pairs_from_bands(payload_bands, widest, key_cols=["modality"])
            if len(set(thresholds.values())) > 1:
                thr = F.create_map(
                    *[F.lit(x) for k in thresholds for x in (k, thresholds[k])]
                )
                pairs = (
                    pairs.join(
                        payload_bands.select(F.col("id").alias("id_a"), "modality"), "id_a"
                    )
                    .filter(F.col("hamming") <= thr[F.col("modality")])
                    .select("id_a", "id_b", "hamming")
                )
            local_losers = pairs.select(F.col("id_b").alias("media_id"))
            if m.demux_av:
                # in-batch cross-container: the rip and its video arriving
                # in the SAME batch — the audio side drops regardless of id
                # order (asymmetric, the capstone rule)
                audio_union = bands.filter(F.col("modality").isin("audio", "audio_track"))
                side = audio_union.select("id", "modality")
                cross_local = (
                    hamming_pairs_from_bands(audio_union, thresholds["audio"])
                    .join(side.select(F.col("id").alias("id_a"), F.col("modality").alias("mod_a")), "id_a")
                    .join(side.select(F.col("id").alias("id_b"), F.col("modality").alias("mod_b")), "id_b")
                    .filter(F.col("mod_a") != F.col("mod_b"))
                    .select(
                        F.when(F.col("mod_a") == "audio", F.col("id_a"))
                        .otherwise(F.col("id_b"))
                        .alias("media_id")
                    )
                )
                local_losers = local_losers.unionByName(cross_local)
            local_losers = local_losers.distinct()
            survivors = batch.join(local_losers, "media_id", "left_anti")
            # Self-pair guard: replay after the append/ledger crash seam
            # finds the batch's own rows in the state (same as text ingest).
            cross = media_state_probe(survivors, state_name, max_hamming).filter(
                F.col("id_a") != F.col("id_b")
            )
            corpus_dups = (
                cross.filter(
                    (F.col("mod_a") == F.col("mod_b"))
                    | ((F.col("mod_a") == "audio_track") & (F.col("mod_b") == "audio"))
                )
                .select(F.col("id_b").alias("media_id"))
                .distinct()
            )
            clean = persisted(survivors.join(corpus_dups, "media_id", "left_anti"))
            (
                clean.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(output_path)
            )
            if dup_path is not None:
                dropped = batch.join(
                    local_losers.withColumn("reason", F.lit("batch")).unionByName(
                        corpus_dups.withColumn("reason", F.lit("corpus"))
                    ),
                    "media_id",
                ).select("media_id", "reason")
                (
                    dropped.withColumn("_batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("_batch_id")
                    .parquet(dup_path)
                )
            media_state_append(clean, state_name)
            ensure_managed_creatable(spark, log_t)
            spark.createDataFrame([(int(batch_id),)], "batch_id long").write.mode(
                "append"
            ).format("parquet").saveAsTable(log_t)

    q = (
        media_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_keyed_upsert_ingest(
    updates_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    op_col: str | None = None,
    assume_unique: bool = False,
    compact_every: int | None = None,
    evolve_schema: bool = False,
    sequence_col: str | None = None,
) -> None:
    """CDC ingest onto a keyed table (round 11): drain a stream of
    row-level changes into ``sources.keyed`` MOR deltas — the
    streaming twin of the dedup/media state ingests, closing the
    streaming↔storage seam for mutable tables.

    Each micro-batch becomes ONE O(batch) mixed delta append
    (:func:`~..sources.keyed.apply_changes_keyed_table`, round 12):
    tombstones and upserts ride in the same seq dir, distinguished by
    the ``_del`` flag, and the uniqueness/NULL-key validation and the
    delete/upsert counts come out of a single aggregation job — the
    round-11 soak's 1.41 s/batch steady state was ~4 Spark jobs of
    per-batch machinery around a 0.35 s append (VERDICT r11 obs #3);
    this path runs exactly two jobs per batch (validate, write). A key
    may appear ONCE per batch; the check turns an ambiguous
    delete+upsert of one key into an error instead of an
    order-dependent answer. ``op_col`` names an optional change-kind
    column (``"delete"`` rows become tombstones; anything else
    upserts); without it every row upserts.

    Exactly-once: the append carries an ``idempotency_key`` derived
    from the Structured Streaming batch id, committed atomically with
    the delta (the marker lands in the seq dir before its
    ``_COMMITTED`` marker) — a replayed batch after a checkpoint crash
    is a no-op.
    ``compact_every=N``
    folds deltas into the base whenever ≥N are pending AFTER a batch,
    bounding the readers' merge tax in an always-on ingest; the
    compaction itself is crash-idempotent (see
    :func:`~..sources.keyed.compact_keyed_table`). One honest seam: a
    crash between an in-batch compaction and the checkpoint commit
    replays a batch whose markers the compaction folded away — the
    replay re-appends, which is VALUE-idempotent (overrides are
    absolute, tombstones delete already-absent keys; pytest-pinned),
    not physically no-op — NARROWED in round 13: ingest markers stay
    in the folded seq dirs, which the table keeps for
    ``gc_generations`` (default 1) further commits, so the replay is
    physically detected there too. Same recovery model the dedup
    ingest documents for its step-4/5 seam.

    One-time upgrade caveat (round-12 ADVICE): before round 12 the
    per-batch key was ``stream-{ns}-{id}-del``/``-ups`` (two appends
    per batch); it is now ``stream-{ns}-{id}``. A checkpointed stream
    restarted ACROSS that upgrade replays its last committed batch
    undetected — value-idempotent (same override/tombstone argument),
    but it commits one duplicate delta. The legacy digests are NOT
    probed on purpose: the probe would add a per-batch listing to the
    fixed cost every batch forever, to cover a window that exists once
    per pre-upgrade checkpoint. Drain or compact once after upgrading
    and the window closes.

    ``sequence_col`` (round 13 — micro-batch COALESCING): the one-op-
    per-key-per-batch contract is per MICRO-batch, so raising the
    source's ``maxFilesPerTrigger`` above 1 (amortizing the two-job
    fixed cost over more rows) would trip the uniqueness check the
    moment two coalesced files touch the same key. Name a
    monotonically-increasing change-order column (a CDC LSN, a landing
    sequence — the ``SEQUENCE BY`` of Delta Live Tables' apply_changes)
    and each micro-batch first collapses to the LATEST change per key
    (one ``max_by`` aggregation, batch-sized) before the append; the
    column itself is not stored. Ties are the caller's bug — the
    sequence must totally order each key's changes.
    """
    import hashlib

    from hadoop_20_warehouse_fix_spark.sources.keyed import (
        _delta_seq_dirs,
        apply_changes_keyed_table,
        compact_keyed_table,
    )

    # Namespace the idempotency keys by the CHECKPOINT identity:
    # foreachBatch batch ids restart at 0 for every fresh checkpoint,
    # so a bare "stream-{batch_id}" would let a second pipeline's (or a
    # reset pipeline's) batch 0 be silently swallowed as a replay of
    # the first's (round-11 review). Same checkpoint ⇒ same namespace
    # ⇒ true replays still dedupe. Canonicalize through the Hadoop FS
    # (makeQualified), NOT os.path.abspath: abspath mangles URI
    # checkpoints (hdfs://, s3a://) with the driver's cwd, which is a
    # fresh dir per cluster-mode restart — the exact replay-after-crash
    # case would then hash to a NEW namespace and re-append
    # (second-pass review).
    sess = updates_stream.sparkSession
    jpath = sess._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    jfs = jpath.getFileSystem(sess._jsc.hadoopConfiguration())
    canonical = jfs.makeQualified(jpath).toString()
    ns = hashlib.md5(canonical.encode()).hexdigest()[:12]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if sequence_col is not None:
            from hadoop_20_warehouse_fix_spark.sources.keyed import (
                read_keyed_meta,
            )

            key_cols = read_keyed_meta(spark, table_path)["key_cols"]
            rest = [c for c in batch_df.columns if c not in key_cols]
            batch_df = (
                batch_df.groupBy(*key_cols)
                .agg(
                    F.max_by(
                        F.struct(*[c for c in rest if c != sequence_col]),
                        F.col(sequence_col),
                    ).alias("_w")
                )
                .select(
                    *key_cols,
                    *[
                        F.col(f"_w.{c}").alias(c)
                        for c in rest
                        if c != sequence_col
                    ],
                )
            )
        with cache_scope():
            batch = persisted(batch_df)
            apply_changes_keyed_table(
                spark,
                table_path,
                batch,
                op_col=op_col,
                assume_unique=assume_unique,
                idempotency_key=f"stream-{ns}-{batch_id}",
                evolve_schema=evolve_schema,
            )
            if (
                compact_every is not None
                and len(_delta_seq_dirs(spark, table_path)) >= compact_every
            ):
                compact_keyed_table(spark, table_path)

    q = (
        updates_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
