"""Flagship training-data pipeline: corpus cleaning end-to-end.

The composite the extension pack exists for (BASELINE.json): language
filter -> quality gate -> exact dedup -> near-dup removal, as ONE lazy
DataFrame plan. The reference would have run this as a JobControl DAG of
4+ MapReduce jobs with HDFS materialization between each
(``M/jobcontrol/JobControl.java:40``); here Catalyst fuses the scalar
stages into the scan and only the dedup shuffles survive.

Every stage is deterministic and the whole pipeline is oracle-checked
value-for-value against a single DuckDB CTE chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.functions.text import (
    LANG_PRIORITY,
    lang_from_scores,
    md5_fingerprint,
    quality_from_parts,
    ws_token_count,
)
from hadoop_20_warehouse_fix_spark.operators.dedup import (
    exact_dedup_rows,
    ngram_jaccard_pairs,
    words_of,
)
from hadoop_20_warehouse_fix_spark.plans.cache import persisted
from hadoop_20_warehouse_fix_spark.queries import query

_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
  FROM documents
), s AS (
  SELECT doc_id, text, words,
    len(list_filter(words, w -> w IN ('the','and','of','to','a','in','is','it')))       AS s_en,
    len(list_filter(words, w -> w IN ('der','die','und','das','nicht','ist','ein','zu'))) AS s_de,
    len(list_filter(words, w -> w IN ('el','los','que','y','en','es','una','las')))     AS s_es,
    len(list_filter(words, w -> w IN ('le','la','et','les','des','est','une','dans')))  AS s_fr
  FROM t
), scored AS (
  SELECT doc_id, text, words,
    CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
         WHEN s_fr > 0 THEN 'fr' ELSE 'unknown' END AS pred,
    least(len(words) / 50.0, 1.0)
      * greatest(1.0 - (CASE WHEN length(text) > 0
           THEN length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0 / length(text)
           ELSE 0.0 END) * 4, 0.0)
      * (CASE WHEN (CASE WHEN len(words) > 0
            THEN list_sum(list_transform(words, w -> length(w))) * 1.0 / len(words)
            ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) AS q,
    len(words) AS n_tokens
  FROM s
), s1 AS (
  SELECT * FROM scored WHERE pred = 'en' AND q >= 0.3
), s2 AS (
  SELECT * FROM s1 WHERE doc_id IN (
    SELECT min(doc_id) FROM s1
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(words) - 2, 0)),
           i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS shs
  FROM s2
), dropped AS (
  SELECT DISTINCT b.doc_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shs, b.shs)) * 1.0
        / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))) >= 0.6
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, round(q, 6) AS quality
FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


@query("corpus_clean", headline=True, oracle=_ORACLE)
def corpus_clean(
    spark: SparkSession,
    sf_dir: str,
    near_dup: str = "ngram",
    repetition_gate: bool = False,
) -> DataFrame:
    """Corpus cleaning pipeline, one plan:

    1. language gate — keep predicted-English docs (stopword-marker
       heuristic, pure column exprs fused into the scan);
    2. quality gate — composite score >= 0.3 (length saturation,
       punctuation excess, word-shape sanity); ``repetition_gate=True``
       fuses the Gopher-style repetition filter (top-word > 1/5 or
       duplicate-bigram > 3/10 drops the doc) into the same projection
       — one more column expression on the existing scan, no extra
       pass (off by default so the oracle replays stages 1-4 exactly);
    3. exact dedup — min doc_id per md5-of-normalized-text, one
       ``exact_dedup_rows`` min_by aggregation;
    4. near-dup removal — word-3-gram Jaccard >= 0.6 pairs via
       inverted-index blocking; the higher doc_id of each pair drops
       (deterministic keep-lowest policy).

    Output: surviving (doc_id, n_tokens, quality).

    100 TB: stages 1-2 are scan-fused row filters (no exchange); stage 3
    shuffles fingerprints; stage 4 is the documented n-gram blocking
    strategy (``near_dup="lsh"`` swaps in minhash_lsh_pairs past the
    DF^2 regime; ``near_dup="auto"`` probes the DF distribution on a
    deterministic sample and picks for you via
    ``choose_near_dup_strategy`` — the web-scale default, since
    duplication is exactly what an ingest doesn't know). Nothing
    collects to the driver. The cleaned corpus (s2) feeds THREE
    consumers (pair generation and the final anti-join's both sides), so
    it is persisted — MEMORY_AND_DISK, spill-safe — rather than
    re-evaluating the interpreted quality expressions per branch (~2x
    end-to-end). At 100 TB the equivalent move is materializing the
    cleaned corpus to Parquet between stages, as the reference's
    JobControl DAG did by necessity.

    Cache lifetime: the persist outlives the returned (lazy) plan; run
    the action inside :func:`~..plans.cache.cache_scope` to release it.

    Physical tuning (round 4, measured at sf0.1, value-identical both
    times): (i) gate scoring runs through ``langscore_struct`` — one
    token-array traversal instead of the ~5 that the composed
    lang_id+quality_score HOFs cost (0.89 s -> 0.76 s); (ii) exact
    dedup is ``exact_dedup_rows`` (min_by in one combine-friendly
    shuffle) instead of winners+semi-join (1.72 s -> 1.06 s, and 3
    shuffles -> 1 at scale where the winner set can't broadcast)."""
    from hadoop_20_warehouse_fix_spark.catalog import fan_out_small_scan
    from hadoop_20_warehouse_fix_spark.functions.text import langscore_struct

    # Small-input fan-out BEFORE the gate projection: the one-pass
    # language/quality scoring is the most expensive per-row compute
    # in the pipeline, and a corpus arriving as a few small files
    # (bench scale; a freshly-compacted dev corpus) would run it on as
    # many cores as there are input splits — measured round 7: the
    # sf0.1 documents table is ONE split, serializing the whole gate
    # stage on a 32-core box. No-op when the scan splits naturally.
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    # Projection barrier: words materialized once per row (see
    # doc_shingle_sets), then ONE aggregate traversal scores all
    # languages + word lengths.
    tokened = docs.select(
        "doc_id",
        "text",
        words_of(F.col("text")).alias("words"),
    )
    # repetition_gate=True adds the Gopher-style repetition filter
    # (text.repetition_struct) to the SAME projection — the token array
    # is already materialized here, so the extra gate is one more fused
    # column expression on the existing scan, not a second pass. Off by
    # default: the oracle replays the 4-stage pipeline exactly.
    rep_cols = []
    if repetition_gate:
        from hadoop_20_warehouse_fix_spark.functions.text import repetition_struct

        # same shuffle(array(..))[0] duplication guard as ls below: the
        # keep-filter references rep directly, and an unguarded rep is
        # re-expanded over raw text and pushed below the fan-out
        # exchange (the round-14 ls finding applies verbatim)
        rep_cols = [
            F.shuffle(F.array(repetition_struct(F.col("words"))))[0].alias("rep")
        ]
    # Duplicate-evaluation guard (round 14; guide §4.4 applied to
    # built-in HOFs): the keep-filter below references pred/q, both
    # derived from ls — PushDownPredicate re-expands them over raw text
    # and pushes the whole scoring below the fan-out exchange, so the
    # SINGLE-TASK scan stage evaluated the interpreted marker scoring
    # ~7x per row (argmax CASE chain + q, each reference inlined) and
    # the projection above computed it all AGAIN. shuffle(array(ls))[0]
    # is the identity on values (a one-element shuffle), but shuffle()
    # is non-deterministic, so the optimizer may neither push the
    # filter below this projection nor duplicate the expression —
    # exactly what asNondeterministic() buys for an expensive UDF.
    # (A rand(42) >= -1 guard does NOT survive: the comparison is
    # simplified away and the pushdown returns.) Measured at sf0.1:
    # gate+dedup 1.26 s -> 0.77 s, single-task pre-exchange stage
    # 0.83 s -> scan-only; survivors value-identical.
    counted = tokened.select(
        "doc_id",
        "text",
        F.shuffle(F.array(langscore_struct(F.col("words"))))[0].alias("ls"),
        F.size("words").alias("n_words"),
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", r"[\w\s]", "")).alias("n_punct"),
        md5_fingerprint(F.col("text")).alias("fp"),
        *rep_cols,
    )
    scores = {lang: F.col("ls")[lang] for lang in LANG_PRIORITY}
    q = quality_from_parts(
        F.col("n_words"), F.col("ls")["sum_len"], F.col("n_chars"), F.col("n_punct")
    )
    enriched = counted.select(
        "doc_id",
        "text",
        lang_from_scores(scores).alias("pred"),
        q.alias("q"),
        F.col("n_words").cast("long").alias("n_tokens"),
        "fp",
        *(["rep"] if rep_cols else []),
    )
    keep = (F.col("pred") == "en") & (F.col("q") >= 0.3)
    if repetition_gate:
        # Integer cross-multiplication gate (float-tie-proof): drop docs
        # whose top word exceeds 1/5 of tokens or whose duplicate-bigram
        # fraction exceeds 3/10 — same thresholds as
        # text_repetition_stats, asserted equal in tests.
        r = F.col("rep")
        keep = keep & ~(
            (r["top_word_count"] * 5 > r["n_words"])
            | ((r["n_bigrams"] - r["n_distinct_bigrams"]) * 10 > r["n_bigrams"] * 3)
        )
    # drop() ignores absent columns, so "rep" needs no conditional.
    s1 = enriched.filter(keep).drop("pred", "rep")
    s2 = persisted(exact_dedup_rows(s1, "doc_id", F.col("fp")).drop("fp"))
    if near_dup == "auto":
        # Data-driven strategy pick (SCALING.md round 4's operating rule
        # as code): probe the DF distribution of the CLEANED corpus —
        # the probe reuses the persist above — and flip to LSH when the
        # estimated posting-pair volume crosses the budget. md5-sampled
        # + exact arithmetic => deterministic for a fixed corpus; at
        # oracle scale the estimate sits orders of magnitude under the
        # budget, so auto == ngram there by construction.
        from hadoop_20_warehouse_fix_spark.operators.dedup import (
            choose_near_dup_strategy,
        )

        near_dup = choose_near_dup_strategy(
            s2.select("doc_id", "text"), "doc_id", "text", n=3
        )
    if near_dup not in ("ngram", "lsh"):
        # Loud failure, not a silent default: a typo ('Auto', 'minhash')
        # falling through to the exact ngram path would quietly select
        # the DF^2-vulnerable strategy at web scale — the exact failure
        # mode the auto probe exists to prevent.
        raise ValueError(
            f"near_dup must be 'ngram', 'lsh', or 'auto', got {near_dup!r}"
        )
    if near_dup == "lsh":
        # The documented swap past the DF^2 regime: LSH banding emits
        # candidates from (band, hash) equality joins — no posting-list
        # blowup when duplication makes every shingle hot. Measured on a
        # 10x-duplicated 50k-doc corpus: ngram posting pairs 1.56x
        # slower than LSH (every posting list 10-hot => 100x pair
        # rows), identical survivor sets; at 1x the two are within 4%
        # (signature cost ~ posting cost), so the default stays ngram
        # (exact by construction); near_dup="auto" lets the probe pick.
        # Recall is the banding S-curve (~0.999 at j >= 0.7),
        # precision 1.0 (exact verify). See SCALING.md round 4.
        from hadoop_20_warehouse_fix_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(
            s2.select("doc_id", "text"), "doc_id", "text", n=3, threshold=0.6
        )
    else:
        pairs = ngram_jaccard_pairs(
            s2.select("doc_id", "text"), "doc_id", "text", n=3, threshold=0.6
        )
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return s2.join(drop, "doc_id", "left_anti").select(
        "doc_id", "n_tokens", F.round("q", 6).alias("quality")
    )


@query(
    "corpus_decontaminate",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(words) - 3, 0)),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2],
                              words[i+3]))) AS shs
      FROM w
    ), ev AS (
      SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0
    ), tr AS (
      SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT tr.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM tr JOIN ev ON tr.s = ev.s
    GROUP BY tr.doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (anti-leakage): flag training documents
    sharing any word-4-gram with the held-out eval slice — here the
    deterministic slice ``doc_id % 97 == 0`` stands in for the
    benchmark suite; a real pipeline passes its eval corpus and a
    longer n (GPT-3 used 13-grams). Output: (doc_id, n_hits) with
    n_hits = DISTINCT shared 4-grams.

    100 TB: the eval shingle set is bounded and broadcast, so the
    corpus-side shingle stream never shuffles its misses — only
    contamination-sized match rows reach the count. See
    operators.dedup.decontaminate for the physics."""
    from hadoop_20_warehouse_fix_spark.catalog import fan_out_small_scan
    from hadoop_20_warehouse_fix_spark.operators.dedup import decontaminate

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, evalset, "doc_id", "text", n=4).select(
        F.col("id").alias("doc_id"), F.col("n_hits")
    )


@query(
    "corpus_pack_shards",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  w -> w <> '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                       - n_tokens) / 2000.0) AS BIGINT) AS shard_id
    FROM t
    """,
)
def corpus_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in doc_id order) to training
    shards of ~2000 whitespace tokens each — shard_id = exclusive prefix
    token count / budget, the deterministic streaming-packing rule an
    LLM data pipeline uses to build fixed-budget shards.

    The prefix sum is the SCALABLE two-pass form
    (operators.sort.prefix_sum: range-partition -> per-partition window
    -> bounded offset collect + broadcast back), NOT a bare global-order
    window (which Spark executes on a single partition). The oracle
    recomputes the same running sum declaratively — proving the
    distributed scan equals the sequential one. The packing rule lives
    in ONE place (operators.sort.pack_by_budget), shared with the
    capstone pipeline."""
    from hadoop_20_warehouse_fix_spark.operators.sort import pack_by_budget

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", ws_token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_by_budget(toks, "doc_id", "n_tokens", budget=2000).select(
        "doc_id", "n_tokens", "shard_id"
    )


def corpus_prepare_training_set(
    spark: SparkSession,
    sf_dir: str,
    token_budget: int = 2000,
    near_dup: str = "auto",
    eval_modulus: int = 97,
    target_mix: dict[str, float] | None = None,
    span_dedup: bool = False,
    span_window: int = 50,
    span_stride: int = 1,
    tokenizer_merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """CAPSTONE composition — the full LLM training-data prep flow as
    one engine pipeline (pytest-covered function, intentionally NOT a
    registered query: every stage below is already individually
    oracle-gated, and the registry is held at 135 so driver sampling
    accumulates):

    1. clean: ``corpus_clean(near_dup=..., repetition_gate=True)`` —
       language + quality + repetition gates, exact dedup, near-dup
       removal with the data-driven strategy pick;
    1b. span dedup (optional, ``span_dedup=True``): cut corpus-repeated
       EXACT spans out of the surviving docs (``remove_repeated_spans``
       — Lee et al. 2022 cut *spans*, not docs, precisely in the
       post-dedup corpus: boilerplate headers and license blocks
       survive doc-level dedup because the REST of each doc is
       unique). ``n_tokens`` is recomputed from the rebuilt text so
       mixing and packing budget the tokens a trainer will actually
       see; ``quality`` keeps the clean-stage score (scored on the
       doc as ingested). The span pass consumes its input twice and
       its output feeds two decontaminate consumers — both seams are
       persist-barriered;
    2. decontaminate: drop survivors sharing any word-4-gram with the
       held-out eval slice (``doc_id % eval_modulus == 0``), which is
       itself excluded from the training set — size the slice like a
       real benchmark suite (bounded), not like a second corpus: the
       testdata's tiny vocabulary means a large eval slice's 4-gram
       dictionary covers the whole phrase space and decontaminates
       everything (measured in SCALING.md round 4);
    3. mix (optional, ``target_mix={"src0": 0.4, ...}``): thin each
       source to the target token proportions (``mix_corpora`` — the
       binding source rides whole; its coin is salted so step 4's
       split stays independent);
    4. split: content-addressed train/val/test assignment
       (``assign_split`` md5 coin — stable across reruns/engines);
    5. pack: the train split packed into fixed-token-budget shards in
       doc_id order via the distributed prefix sum (val/test carry
       shard_id NULL — shards are a training-loader concept).

    ``tokenizer_merges`` (round 8): hand in a learned BPE merge table
    (:func:`~..operators.bpe.bpe_train`) and every downstream token
    budget — mixing proportions, shard packing — is accounted in REAL
    tokenizer tokens instead of the whitespace proxy: ``n_tokens`` is
    recomputed from the surviving text via the row-local Arrow encode
    (zero extra shuffles; one extra column pass). This is the
    production posture — a trainer's context budget is tokenizer
    tokens, and a proxy mis-sizes shards exactly where text is
    punctuation- or CJK-heavy.

    Output: (doc_id, n_tokens, quality, split, shard_id).

    100 TB posture is inherited stage-by-stage (each documented at its
    definition): scan-fused gates, bounded-collect strategy probe,
    broadcast-or-shuffle eval overlap, row-local split coin, two-pass
    prefix sum. End-to-end wall at the 100x-duplicated 500k-doc corpus
    is measured in SCALING.md round 4 — including the 2.9x cost of
    running it WITHOUT the two persists below, which is the JobControl
    lesson in miniature: stage composition needs materialization
    barriers wherever a stage's output has multiple lazy consumers
    (decontaminate-clean consumes ``survivors`` twice, the split feeds
    train + rest, and the prefix sum reads its input twice), or the
    whole upstream dedup DAG re-evaluates per consumer. At 100 TB the
    same barrier is Parquet between stages, as the reference's DAGs
    materialized to HDFS by necessity.

    Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    from hadoop_20_warehouse_fix_spark.operators.sort import pack_by_budget
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    decontaminated = _text_survivors(
        spark, sf_dir, near_dup, eval_modulus, target_mix,
        span_dedup, span_window, span_stride, tokenizer_merges,
    )
    tagged = persisted(assign_split(decontaminated, "doc_id"))
    train = pack_by_budget(
        tagged.filter(F.col("split") == "train"), "doc_id", "n_tokens",
        budget=token_budget,
    ).select("doc_id", "n_tokens", "quality", "split", "shard_id")
    rest = tagged.filter(F.col("split") != "train").select(
        "doc_id", "n_tokens", "quality", "split",
        F.lit(None).cast("long").alias("shard_id"),
    )
    return train.unionByName(rest)


def _text_survivors(
    spark: SparkSession,
    sf_dir: str,
    near_dup: str,
    eval_modulus: int,
    target_mix: dict[str, float] | None,
    span_dedup: bool,
    span_window: int,
    span_stride: int,
    tokenizer_merges: list[tuple[str, str]] | None,
) -> DataFrame:
    """Stages 1-3 of :func:`corpus_prepare_training_set` (clean ->
    optional span dedup -> decontaminate -> optional source mix),
    shared verbatim with :func:`corpus_prepare_unified_training_set`
    so the two entry points cannot diverge on gate semantics. Returns
    the decontaminated survivor frame (doc_id, n_tokens, quality)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import decontaminate

    cols = ["doc_id", "text"] + (["source"] if target_mix else [])
    docs = load_table(spark, sf_dir, "documents").select(*cols)
    cleaned = corpus_clean(spark, sf_dir, near_dup=near_dup, repetition_gate=True)
    evalset = docs.filter(F.col("doc_id") % eval_modulus == 0)

    def n_tokens_of(text_col):
        if tokenizer_merges is not None:
            from hadoop_20_warehouse_fix_spark.operators.bpe import (
                bpe_token_count_column,
            )

            return bpe_token_count_column(text_col, tokenizer_merges).cast("long")
        return ws_token_count(text_col).cast("long")

    survivors = cleaned.filter(F.col("doc_id") % eval_modulus != 0).join(docs, "doc_id")
    if tokenizer_merges is not None:
        # re-account n_tokens in real tokenizer tokens (the clean stage
        # counted whitespace tokens; budgets below must match a trainer)
        survivors = survivors.withColumn("n_tokens", n_tokens_of(F.col("text")))
    survivors = persisted(survivors)
    if span_dedup:
        from hadoop_20_warehouse_fix_spark.operators.dedup import (
            remove_repeated_spans,
        )

        survivors = persisted(
            remove_repeated_spans(
                survivors, "doc_id", "text", window=span_window, stride=span_stride
            ).withColumn("n_tokens", n_tokens_of(F.col("text")))
        )
    decontaminated = decontaminate(
        survivors, evalset, "doc_id", "text", n=4, mode="clean"
    ).drop("text")
    if target_mix:
        from hadoop_20_warehouse_fix_spark.sources.readers import mix_corpora

        # mix_corpora consumes its input twice (mass aggregation +
        # filter) — barrier first, per its docstring.
        decontaminated = persisted(decontaminated)
        decontaminated, _rates = mix_corpora(
            decontaminated, "source", "n_tokens", target_mix, "doc_id"
        )
        decontaminated = decontaminated.drop("source")
    return decontaminated


def corpus_prepare_media_training_set(
    spark: SparkSession,
    media: DataFrame,
    shard_budget_bytes: int = 1 << 20,
    max_hamming: int | dict[str, int] = 3,
    n_frames: int = 3,
    splits: dict[str, float] | None = None,
    target_mix: dict[str, float] | None = None,
    min_flatness: float = 0.0,
    demux_av: bool = False,
    observation=None,
) -> DataFrame:
    """MULTIMODAL capstone — the media-column twin of
    :func:`corpus_prepare_training_set`, one engine pipeline over a
    mixed image/audio/video corpus (pytest-covered function,
    intentionally NOT a registered query: binary payloads and Hamming
    pair generation are not DuckDB-replayable, and the registry is
    held at 135):

    1. exact dedup — keep-min ``media_id`` per ``md5(payload)``
       (:func:`~..operators.dedup.exact_dedup_rows`, one
       combine-friendly shuffle) BEFORE any decode: byte-identical
       copies must not pay the codec;
    2. decode gate + fingerprint —
       :func:`~..functions.multimodal.media_fingerprint_bands`:
       payloads sniffed by magic, routed to their modality's 64-bit
       fingerprint (image dHash / audio spectral / video frame-dHash),
       undecodable or unrecognized payloads COUNTED + DROPPED (the
       dropped-media ledger rides ``observation``, filled when the
       returned plan materializes);
    3. near-dup removal — the shared pigeonhole band engine with
       ``key_cols=["modality"]`` (pairs only within a modality), then
       :func:`~..operators.dedup.connected_components` min-label
       clustering and the keep-lowest policy: every non-representative
       member of a cluster drops. This is what removes a WAV vs its
       FLAC twin, a baseline vs its progressive JPEG re-encode, and a
       re-encoded AVI — cross-FORMAT duplicates that byte-level md5
       can never see. ``max_hamming`` may be a per-modality dict
       (``{"image": 3, "audio": 2}``; missing modalities keep the
       scalar default 3): candidates form at the widest budget, then
       tighten per modality (round 10). ``min_flatness`` threads the
       round-9 tonal-audio gate through the decode stage: sparse-
       spectrum clips are counted (``sparse_spectrum_rows``) + dropped
       instead of over-clustered;
    3a. cross-container audio dedup (``demux_av=True``, round 10):
       each AVI's PCM soundtrack is demuxed and fingerprinted as a
       SHADOW row in the same pass (``demuxed_track_rows`` on the
       ledger), and standalone audio within ``max_hamming["audio"]``
       of any video's track drops — asymmetrically: the video always
       survives this stage (it carries strictly more than its track).
       A ripped/muxed WAV↔AVI duplicate is exactly the pair the
       modality-keyed engine of step 3 can never form;
    3b. mix (optional, ``target_mix={"image": 0.5, "audio": 0.3,
       "video": 0.2}``): thin modalities to target BYTE proportions —
       the text capstone's source-mix recipe with modality as the
       source and payload bytes as the mass
       (:func:`~..sources.readers.mix_corpora`: binding modality rides
       whole, salted coin keeps step 4's split independent);
    4. split — content-addressed train/val/test
       (:func:`~..sources.readers.assign_split` md5 coin on
       ``media_id``);
    5. pack — the train split packed into fixed-BYTE-budget shards in
       ``media_id`` order via the distributed prefix sum (media has no
       token count; a loader's unit of account is payload bytes).
       val/test carry shard_id NULL, exactly like the text capstone.

    Output: (media_id, modality, n_bytes, split, shard_id).

    100 TB posture stage-by-stage: md5 dedup is one partial-agg
    shuffle; the decode gate is row-local Arrow work that prunes the
    scan to (media_id, payload); pair generation is band-equality
    blocking (never all-pairs); components converge in diameter
    rounds over near-clique duplicate clusters; split is a row-local
    coin; packing is the two-pass prefix sum. The fingerprint stage
    feeds two consumers (pair generation + the survivor base), so it
    is persist-barriered — same JobControl lesson as the text
    capstone's seams, where every integration bug of rounds 4-8 lived.

    Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    from hadoop_20_warehouse_fix_spark.operators.sort import pack_by_budget
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split

    if shard_budget_bytes <= 0:
        raise ValueError(
            f"shard_budget_bytes must be positive, got {shard_budget_bytes}"
        )
    survivors = _media_survivors(
        spark, media, _media_thresholds(max_hamming), n_frames,
        target_mix, min_flatness, demux_av, observation,
    )
    tagged = persisted(assign_split(survivors, "media_id", splits))
    train = pack_by_budget(
        tagged.filter(F.col("split") == "train"), "media_id", "n_bytes",
        budget=shard_budget_bytes,
    ).select("media_id", "modality", "n_bytes", "split", "shard_id")
    rest = tagged.filter(F.col("split") != "train").select(
        "media_id", "modality", "n_bytes", "split",
        F.lit(None).cast("long").alias("shard_id"),
    )
    return train.unionByName(rest)


_MODALITIES = ("image", "audio", "video")


def _media_thresholds(max_hamming: int | dict[str, int]) -> dict[str, int]:
    """Validate + normalize per-modality Hamming budgets: a scalar
    applies everywhere; a dict tightens named modalities (missing keys
    keep the scalar default 3); every value must respect the 4-band
    pigeonhole bound."""
    if isinstance(max_hamming, dict):
        bad = set(max_hamming) - set(_MODALITIES)
        if bad:
            raise ValueError(
                f"max_hamming keys must be in {_MODALITIES}, got {sorted(bad)}"
            )
        # a modality absent from the dict keeps the scalar default (3)
        thresholds = {m: int(max_hamming.get(m, 3)) for m in _MODALITIES}
    else:
        thresholds = {m: int(max_hamming) for m in _MODALITIES}
    for m, t in thresholds.items():
        if not (0 <= t <= 3):
            raise ValueError(
                f"max_hamming[{m!r}] must be in [0, 3] (the 4-band "
                f"pigeonhole bound), got {t}"
            )
    return thresholds


def _media_survivors(
    spark: SparkSession,
    media: DataFrame,
    thresholds: dict[str, int],
    n_frames: int,
    target_mix: dict[str, float] | None,
    min_flatness: float,
    demux_av: bool,
    observation,
) -> DataFrame:
    """Stages 1-3b of :func:`corpus_prepare_media_training_set` (md5
    exact dedup -> decode gate + fingerprint -> near-dup removal ->
    optional cross-container audio drop -> optional modality mix),
    shared verbatim with :func:`corpus_prepare_unified_training_set`.
    Returns the survivor frame (media_id, modality, n_bytes)."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        connected_components,
        exact_dedup_rows,
        hamming_pairs_from_bands,
    )

    slim = media.select("media_id", "payload")
    deduped = exact_dedup_rows(slim, "media_id", F.md5(F.col("payload")))
    # n_bytes rides the fingerprint pass itself (round-9 review: a
    # separate sizes branch off `deduped` re-executed the exact-dedup
    # shuffle — payload bytes moved twice), so `deduped` has exactly
    # one consumer and needs no barrier of its own.
    bands = persisted(
        media_fingerprint_bands(
            deduped,
            n_frames=n_frames,
            observation=observation,
            min_flatness=min_flatness,
            demux_av=demux_av,
        )
    )
    if observation is not None:
        # Materialize the gate NOW, exactly once: the pair stage below
        # self-joins `bands`, and two concurrent first-scans of a
        # persisted plan race to populate the cache — some partitions
        # fire the observe accumulator twice, some zero times, and the
        # Observation row comes back corrupt (measured: obs.get raised
        # a JVM assertion on degenerate corpora). One eager pass fills
        # the cache, fires the metrics exactly once, and makes the
        # ledger readable as soon as this function returns; downstream
        # consumers read the cache, so no decode work is repeated.
        bands.count()
    # shadow soundtrack rows (demux_av) are PAIRING evidence, never
    # survivors: they share their parent video's id, so letting one
    # into the in-modality stage would let a soundtrack match delete a
    # whole video; letting one into the survivor base would duplicate
    # the parent's media_id
    payload_bands = bands.filter(
        F.coalesce(F.col("modality") != "audio_track", F.lit(True))
    )
    widest = max(thresholds.values())
    pairs = hamming_pairs_from_bands(payload_bands, widest, key_cols=["modality"])
    if len(set(thresholds.values())) > 1:
        # per-modality Hamming budgets (round 10): candidates form at
        # the widest threshold, then tighten per modality — pairs are
        # within-modality by key_cols, so id_a's modality is the
        # pair's; the lookup join reads the persisted bands cache
        thr = F.create_map(
            *[F.lit(x) for m in _MODALITIES for x in (m, thresholds[m])]
        )
        pairs = (
            pairs.join(
                payload_bands.select(F.col("id").alias("id_a"), "modality"), "id_a"
            )
            .filter(F.col("hamming") <= thr[F.col("modality")])
            .select("id_a", "id_b", "hamming")
        )
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    if demux_av:
        # cross-container stage: standalone audio that duplicates a
        # video's demuxed soundtrack drops — ASYMMETRICALLY. The video
        # always survives this stage (it carries strictly more than
        # its track); keep-lowest only arbitrates WITHIN a modality.
        # One extra band self-join over the (tiny) audio slice of the
        # persisted cache; track-track pairs (two videos sharing a
        # soundtrack) are deliberately ignored — whether the VIDEOS
        # are dups is the video fingerprint's call, made above.
        audio_union = bands.filter(
            F.col("modality").isin("audio", "audio_track")
        )
        cross = hamming_pairs_from_bands(audio_union, thresholds["audio"])
        side = audio_union.select("id", "modality")
        cross_drop = (
            cross.join(
                side.select(F.col("id").alias("id_a"), F.col("modality").alias("mod_a")),
                "id_a",
            )
            .join(
                side.select(F.col("id").alias("id_b"), F.col("modality").alias("mod_b")),
                "id_b",
            )
            .filter(F.col("mod_a") != F.col("mod_b"))
            .select(
                F.when(F.col("mod_a") == "audio", F.col("id_a"))
                .otherwise(F.col("id_b"))
                .alias("id")
            )
        )
        drop = drop.unionByName(cross_drop).distinct()
    survivors = payload_bands.join(drop, "id", "left_anti").select(
        F.col("id").alias("media_id"), "modality", "n_bytes"
    )
    if target_mix:
        from hadoop_20_warehouse_fix_spark.sources.readers import mix_corpora

        # mix_corpora consumes its input twice (mass aggregation +
        # filter); survivors derives from the persisted `bands`, so the
        # re-evaluation is two cheap cached-scan anti-joins, not a
        # recompute of the decode pass
        survivors, _rates = mix_corpora(
            survivors, "modality", "n_bytes", target_mix, "media_id"
        )
    return survivors


def corpus_prepare_unified_training_set(
    spark: SparkSession,
    sf_dir: str,
    media: DataFrame,
    token_budget: int = 2000,
    media_budget_bytes: int = 1 << 20,
    near_dup: str = "auto",
    eval_modulus: int = 97,
    max_hamming: int | dict[str, int] = 3,
    n_frames: int = 3,
    splits: dict[str, float] | None = None,
    text_mix: dict[str, float] | None = None,
    media_mix: dict[str, float] | None = None,
    min_flatness: float = 0.0,
    demux_av: bool = False,
    span_dedup: bool = False,
    span_window: int = 50,
    span_stride: int = 1,
    tokenizer_merges: list[tuple[str, str]] | None = None,
    ledger: dict | None = None,
) -> DataFrame:
    """UNIFIED capstone (round 10) — ONE training-set build over text
    AND media, where rounds 4-9 grew two parallel pipelines with
    separate split coins and separate shard sequences. A real
    multimodal training set interleaves both corpora, so the seams the
    two capstones kept private become shared contracts here
    (pytest-covered function, intentionally NOT a registered query —
    registry held at 135):

    - SURVIVORS: the text side runs :func:`corpus_prepare_training_set`
      stages 1-3 verbatim (clean -> optional span dedup ->
      decontaminate -> optional source mix) via the shared
      ``_text_survivors``; the media side runs
      :func:`corpus_prepare_media_training_set` stages 1-3b verbatim
      (md5 dedup -> decode gate + fingerprint -> per-modality near-dup
      -> optional cross-container audio drop -> optional modality mix)
      via the shared ``_media_survivors``. One helper each, so the
      unified build CANNOT diverge from the single-modality entry
      points on gate semantics.
    - UNIFIED ID SPACE: survivors union under
      ``item_id = "doc:<doc_id>" | "media:<media_id>"`` — doc 5 and
      media 5 stop sharing a coin value, which the per-pipeline coins
      (both md5 over a bare long) silently did.
    - SHARED SPLIT COIN: ONE content-addressed
      :func:`~..sources.readers.assign_split` md5 coin over ``item_id``
      — a document keeps its split whether it is built alone or
      alongside media, and rebuilding with a different media corpus
      never reshuffles text eval membership (and vice versa).
    - ONE SHARD SEQUENCE, PER-MODALITY BUDGETS: the train split packs
      text by TOKENS (``token_budget``) and media by BYTES
      (``media_budget_bytes``) — a loader's two units of account —
      into one contiguous shard_id sequence: text shards first
      (0..T-1), media shards follow (T..). The offset is one bounded
      scalar job (max over the packed text slice of the persisted
      split frame). val/test carry shard_id NULL.
    - ONE COMBINED LEDGER: pass ``ledger={}`` and the build fills it
      eagerly — the media decode-gate Observation (rows / decoded /
      failed / unrecognized / per-modality / sparse_spectrum /
      demuxed_track) plus survivor counts per modality — one place a
      pipeline operator reads instead of two half-ledgers.

    Output: (item_id string, modality, n_units long, quality double —
    NULL for media rows, split, shard_id). ``n_units`` is tokens for
    text rows and bytes for media rows, matching each side's packing
    budget.

    100 TB posture: everything is inherited from the two survivor
    helpers (documented there); the union adds zero shuffles (row-local
    projections), the split coin is row-local, and the two packs are
    the same distributed prefix sum over disjoint slices of one
    persisted frame. Reference analog: heterogeneous inputs feeding one
    logical update stream (``M/lib/MultipleInputs.java:34``,
    ``X/index/.../main/UpdateIndex.java:66``).

    Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    from pyspark.sql import Observation

    from hadoop_20_warehouse_fix_spark.operators.sort import pack_by_budget
    from hadoop_20_warehouse_fix_spark.sources.readers import assign_split

    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if media_budget_bytes <= 0:
        raise ValueError(
            f"media_budget_bytes must be positive, got {media_budget_bytes}"
        )
    thresholds = _media_thresholds(max_hamming)
    obs = Observation("unified_media_gate") if ledger is not None else None
    text = _text_survivors(
        spark, sf_dir, near_dup, eval_modulus, text_mix,
        span_dedup, span_window, span_stride, tokenizer_merges,
    )
    med = _media_survivors(
        spark, media, thresholds, n_frames, media_mix,
        min_flatness, demux_av, obs,
    )
    unified = text.select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("item_id"),
        F.col("doc_id").alias("_ord"),
        F.lit("text").alias("modality"),
        F.col("n_tokens").alias("n_units"),
        F.col("quality").cast("double").alias("quality"),
    ).unionByName(
        med.select(
            F.concat(
                F.lit("media:"), F.col("media_id").cast("string")
            ).alias("item_id"),
            F.col("media_id").alias("_ord"),
            "modality",
            F.col("n_bytes").alias("n_units"),
            F.lit(None).cast("double").alias("quality"),
        )
    )
    tagged = persisted(assign_split(unified, "item_id", splits))
    out_cols = ["item_id", "modality", "n_units", "quality", "split", "shard_id"]
    is_text = F.col("modality") == "text"
    train = tagged.filter(F.col("split") == "train")
    packed_text = pack_by_budget(
        train.filter(is_text), "_ord", "n_units", budget=token_budget
    )
    # ONE bounded scalar job (over the persisted split frame) fixes the
    # media offset; prefix_sum re-derivation for the output below reads
    # the same cache
    max_text_shard = packed_text.agg(F.max("shard_id")).first()[0]
    offset = int(max_text_shard) + 1 if max_text_shard is not None else 0
    packed_media = pack_by_budget(
        train.filter(~is_text), "_ord", "n_units", budget=media_budget_bytes
    ).withColumn("shard_id", F.col("shard_id") + F.lit(offset))
    rest = tagged.filter(F.col("split") != "train").withColumn(
        "shard_id", F.lit(None).cast("long")
    )
    result = (
        packed_text.select(*out_cols)
        .unionByName(packed_media.select(*out_cols))
        .unionByName(rest.select(*out_cols))
    )
    if ledger is not None:
        # eager by contract: the media gate already materialized inside
        # _media_survivors (the Observation barrier), so obs.get is
        # ready; survivor counts are one groupBy over the persisted
        # split frame
        ledger["media_gate"] = dict(obs.get)
        ledger["survivors_by_modality"] = {
            r.modality: r["count"]
            for r in tagged.groupBy("modality").count().collect()
        }
        ledger["text_shards"] = offset
    return result
