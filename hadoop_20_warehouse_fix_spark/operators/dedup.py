"""Deduplication operators — the training-data-pipeline extension pack
(BASELINE.json; SURVEY.md §7 phase 5).

The reference's only dedup machinery is identity-map + first-value reduce
(SURVEY §2.7) — exact dedup. The fuzzy family here (n-gram Jaccard,
MinHash+LSH, SimHash, embedding cosine) is standard public literature:
Broder's MinHash (STOC'97 "On the resemblance and containment of
documents"), Charikar's SimHash (STOC'02), banding analysis per Mining of
Massive Datasets ch.3.

Scale design:
- Exact dedup: hash-groupBy on a fingerprint — shuffle bounded by
  distinct fingerprints.
- n-gram Jaccard: inverted-index blocking (join on shared shingle) is
  EXACT but the blocking join explodes on high-DF shingles; at 100 TB
  cap document frequency (drop stop-shingles) or switch to MinHash.
- MinHash+LSH: signature is fixed-size (num_hashes × 8 B) regardless of
  doc length; banding turns all-pairs into equality joins on
  (band, band_hash) — the only scalable path for web-scale corpora.
- SimHash: 64-bit fingerprint; pigeonhole banding (4×16 bits) finds all
  pairs within Hamming distance 3 using 4 equality joins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.plans.cache import cache_scope, persisted


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form fed to
    fingerprints so formatting differences don't defeat exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words_of(col: Column) -> Column:
    """Whitespace tokens with empties removed (split artifacts).

    ``array_remove`` instead of a higher-order ``filter`` lambda: the
    lambda would run interpreted per element; array_remove is a native
    codegen expression."""
    return F.array_remove(F.split(F.lower(col), r"\s+"), "")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column, as one array
    expression.

    NOTE: the lambda re-evaluates the tokenizer expression per element
    (O(L^2) per doc) — fine for one-off use on small inputs, but the
    hot dedup paths go through :func:`doc_shingle_sets`, which
    materializes the token array in its own projection first so each
    document tokenizes exactly once.
    """
    words = words_of(col)
    cnt = F.size(words) - (n - 1)
    return F.when(
        cnt > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shs: array<string>) — each doc's DISTINCT word n-gram set,
    built with ZERO shuffles: tokenize once into a materialized array
    column, then a per-row array transform slides the n-gram window.

    The tokens are materialized in their own projection so the lambda
    references a bound column (evaluated once per document), not the
    tokenizer expression (which an inlined form would re-evaluate per
    element — the O(L^2) trap). Measured ~3x faster than the
    posexplode + window-lead + collect_set formulation it replaces,
    besides eliminating that version's sort-window exchange.

    100 TB: embarrassingly parallel — per-document work with no
    exchange at all; skew bounded by max document length.
    """
    words = df.select(F.col(id_col).alias("id"), words_of(F.col(text_col)).alias("words"))
    cnt = F.size("words") - (n - 1)
    shs = F.when(
        cnt > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), cnt - 1),
                lambda i: F.concat_ws(" ", F.slice("words", i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return words.select("id", shs.alias("shs"))


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct (id, shingle) rows — explode of :func:`doc_shingle_sets`."""
    return doc_shingle_sets(df, id_col, text_col, n).select(
        "id", F.explode("shs").alias("sh")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str, keep: str = "min") -> DataFrame:
    """Exact dedup by content fingerprint: md5 of normalized text,
    keep the min (or max) id per fingerprint — the reference's
    identity-map + first-value-reduce idiom, made deterministic."""
    keep_fn = F.min if keep == "min" else F.max
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(keep_fn(F.col(id_col)).alias(id_col))
    )


def exact_dedup_rows(df: DataFrame, id_col: str, fingerprint: Column) -> DataFrame:
    """Surviving FULL rows under keep-min-id exact dedup: one
    ``groupBy(fingerprint).agg(min_by(struct(*), id))`` — a single
    shuffle whose map-side partial aggregation collapses every
    fingerprint to one row per map partition before the exchange.

    This replaces the winners-then-semi-join formulation
    (``groupBy(fp).agg(min(id))`` + ``join(..., "left_semi")``), which
    costs the aggregation shuffle PLUS both join-side shuffles at scale
    (AQE hides it locally by broadcasting the winner set — a luxury a
    100 TB winner set does not have). Measured at sf0.1 on the
    corpus_clean gate: 1.72 s -> 1.06 s, identical survivors. Hot
    fingerprints (mass-duplicated content) are bounded by the partial
    agg: each map task emits one candidate row per fingerprint."""
    cols = df.columns
    picked = (
        df.groupBy(fingerprint.alias("_fp"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_r"))
    )
    return picked.select(*[F.col("_r")[c].alias(c) for c in cols])


def _pin_posting_parallelism(rows: DataFrame, *key_cols: str) -> DataFrame:
    """Pin the posting-list exchange to the session's shuffle-partition
    count: ``repartition(n, keys)`` immediately before a
    ``groupBy(keys)`` is reused by the aggregation (hash partitioning
    on the same keys with the same count — no second exchange), and AQE
    never coalesces a user-specified repartition.

    Why (round 14, measured): AQE's ``coalescePartitions`` sizes the
    post-shuffle stage by the exchange's INPUT bytes, but a posting
    stage's work is its pair-explode OUTPUT — quadratic per list. At
    sf0.1 the posting reduce (4.8 MB in, 12.9 MB + 1.9 s CPU of pair
    structs out) was coalesced 32 -> 4 partitions, running the pair
    explosion on 4 of 32 cores: pair stage wall 0.657 s -> ~0.1 s
    pinned (ngram_jaccard_pairs end-to-end 1.43 s -> 0.98 s). The same
    physics holds at 100 TB: output-proportional stages must take
    their parallelism from the output side, which AQE cannot see.
    The count follows ``spark.sql.shuffle.partitions`` — the
    scale knob sessions already size to the cluster (2-3x total cores
    per session.py), so lower-core driver runs shrink it automatically.

    Trade-off: the groupBy's map-side partial aggregation now happens
    after the exchange — irrelevant for collect_list, whose partial
    state is a concatenation (same bytes shuffled either way)."""
    n = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return rows.repartition(n, *key_cols)


def _posting_pairs(rows: DataFrame) -> DataFrame:
    """(id, sh) rows → candidate (id_a, id_b) co-occurrence pairs via
    posting lists: group by shingle, sort the doc-id list, emit all i<j
    combinations. ONE aggregation + ONE pair of Generates — no
    self-join, so the shingle subtree upstream is evaluated once, not
    once per join side.

    Pair-emission form (round 15, measured): two codegen'd Generates
    (posexplode the list, then explode the per-position tail slice)
    replace the round-4 interpreted ``flatten(transform(transform))``
    lambda. Same pair rows by construction; at 1x duplication the two
    are a wash (the pair volume is small), under 10x duplication —
    where every posting list is 10x longer and pair rows grow 100x —
    the codegen'd form is 1.3x faster on the dominant stage (14.8 s ->
    11.0 s on the 50k-doc replication corpus; value-identical, 256/256
    pairs equal at sf0.1)."""
    posting = (
        _pin_posting_parallelism(rows, "sh").groupBy("sh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        posting.select("ids", F.posexplode("ids").alias("i", "id_a"))
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, i+2, size(ids)-i-1)")).alias("id_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs by word-n-gram Jaccard.

    Output: (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.

    Two physical strategies, identical results:
    - ``prefix_filter=False``: inverted-index blocking — posting list per
      shingle, explode i<j combinations, count co-occurrences per pair
      (= intersection size), score. Doc set-sizes ride ALONG the posting
      lists (struct(id, n_sh)), so the shingle subtree is evaluated
      exactly once — no second aggregation, no size join. Cost is sum
      over shingles of DF^2 pair rows — fine until high-document-
      frequency shingles appear. ``max_df`` drops posting lists longer
      than the cap (stop-shingle guard for web-scale corpora; result
      becomes a documented approximation when set). The cap is a
      RECALL CLIFF: it must exceed duplication-factor x base DF or
      discriminative shingles get dropped wholesale (measured in
      SCALING.md — a 10x-duplicated corpus found 0 pairs under a cap
      tuned for 1x); derive it from the DF distribution and monitor
      dropped-list counts.
    - ``prefix_filter=True``: PPJoin-style prefix filtering (Bayardo et
      al. WWW'07 "Scaling Up All Pairs"; Xiao et al. WWW'08 "Efficient
      Similarity Joins"): order each doc's shingles by ascending global
      DF; a pair with J >= t must share a shingle within the first
      ``|sh| - ceil(t*|sh|) + 1`` of BOTH docs, so only those prefix rows
      generate candidates. Candidates are then verified exactly via
      full-set intersection. Stop-shingles land at prefix ends, capping
      the DF^2 blowup without any approximation — the 100 TB strategy.

    Scale notes: no broadcast hints — the size/set side is one row per
    doc, far too big to broadcast at corpus scale; AQE auto-broadcasts
    it at bench scale where it is small. The only unavoidable shuffles
    are the shingle groupBys (keyed on xxhash64(shingle) — 8-byte keys,
    high cardinality, skew bounded by max DF) and the tiny per-pair
    aggregation."""
    docs = doc_shingle_sets(df, id_col, text_col, n)

    if not prefix_filter:
        # Blocking keys are xxhash64(shingle), not the shingle strings:
        # the posting groupBy shuffles 8-byte longs instead of ~25-byte
        # strings (measured ~20% off the dominant stage at sf0.1).
        # Distinct hashes == distinct strings modulo a 2^-64 collision —
        # the intersection COUNTS (hence jaccard) are exact for any
        # realistic corpus; the prefix/verify path below intersects the
        # original string sets, so it is collision-free by construction.
        rows = docs.select(
            "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh_str")
        ).select("id", "n_sh", F.xxhash64("sh_str").alias("sh"))
        if max_df is not None:
            # Stop-shingle cap via a combinable count + broadcast
            # anti-join, NOT a window count (full sort of every exploded
            # row) and NOT a post-aggregation size filter (which would
            # BUILD the 10M-element posting array for a hot shingle
            # before discarding it — the executor-memory blowup max_df
            # exists to prevent). The hot set is tiny by construction
            # (shingles with DF > cap), so it broadcasts.
            hot = (
                rows.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_df)
                .select("sh")
            )
            rows = rows.join(F.broadcast(hot), "sh", "left_anti")
        # Pin the posting exchange's parallelism: the reduce side's work
        # is the (quadratic) pair explode below, which AQE would
        # otherwise coalesce down to match the exchange's input bytes
        # (see _pin_posting_parallelism).
        posting = (
            _pin_posting_parallelism(rows, "sh").groupBy("sh")
            .agg(F.sort_array(F.collect_list(F.struct("id", "n_sh"))).alias("ids"))
            .filter(F.size("ids") > 1)
        )
        # Size filter before the pair shuffle: J(a,b) >= t forces
        # min(n_a,n_b) >= t*max(n_a,n_b) (since inter <= min and
        # union >= max) — pairs violating it never reach the groupBy.
        # Pair emission is two codegen'd Generates (round 15): see
        # _posting_pairs — 1.3x on the dominant stage under 10x
        # duplication, value-identical, wash at 1x.
        pairs = (
            posting.select("ids", F.posexplode("ids").alias("i", "x"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("x.n_sh").alias("n_a"),
                F.explode(F.expr("slice(ids, i+2, size(ids)-i-1)")).alias("y"),
            )
            .select("id_a", "n_a", F.col("y.id").alias("id_b"), F.col("y.n_sh").alias("n_b"))
            .filter(
                F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b")
            )
        )
        return (
            pairs.groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("inter"))
            .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )

    # Prefix path: rank each doc's shingles rarest-first (global DF, then
    # shingle text for determinism); only the pigeonhole prefix generates
    # candidates. The length filter (min >= t*max, implied by J >= t)
    # runs AFTER the distinct, as a join against the one-row-per-doc
    # size side: deduped candidates are far fewer than raw pair rows, so
    # filtering there beats carrying sizes through the (interpreted)
    # pair-explode lambda — measured ~35% faster end-to-end at sf0.1.
    # Hashed blocking keys here too (same argument as above; the final
    # verify intersects original string sets, so results stay exact even
    # under a hash collision — a collision only adds a candidate).
    rows = docs.select(
        "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh_str")
    ).select("id", "n_sh", F.xxhash64("sh_str").alias("sh"))
    ranked = rows.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    ).withColumn("r", F.row_number().over(Window.partitionBy("id").orderBy("df", "sh")))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    block = ranked.filter(F.col("r") <= prefix_len).select("id", "sh")
    sizes = docs.select("id", F.size("shs").alias("n"))
    cand = (
        _posting_pairs(block)
        .distinct()
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .filter(F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b"))
        .select("id_a", "id_b")
    )
    return (
        cand.join(docs.select(F.col("id").alias("id_a"), F.col("shs").alias("sh_a")), "id_a")
        .join(docs.select(F.col("id").alias("id_b"), F.col("shs").alias("sh_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def estimate_posting_pair_volume(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sample_frac: float = 1.0,
) -> float:
    """Estimate the posting-pair volume ``sum over shingles of
    DF*(DF-1)/2`` — the row count of :func:`ngram_jaccard_pairs`'
    dominant pair-explode stage — from a deterministic md5-sample of the
    corpus.

    Why sampling scales: a doc sample of rate ``p`` thins every posting
    list binomially (sample DF ~= p*DF), so the sampled pair volume is
    ~p^2 of the true one; dividing by p^2 recovers it. The estimate is
    noisy for shingles with DF ~ 1/p, but the quantity spans orders of
    magnitude between the healthy regime and the DF^2 cliff (SCALING.md
    round 4 measured 10x duplication => ~100x pair volume), so
    order-of-magnitude accuracy is all a strategy choice needs.

    The md5 coin (same idiom as sample_stratified) makes the sample —
    hence the estimate, hence any decision taken on it — a pure
    function of the data: reproducible across runs and engines, no RNG
    state. Cost: shingle explode + one combinable groupBy over the
    sample, ONE scalar collected."""
    rows = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if sample_frac < 1.0:
        # Same md5-coin construction (and 1<<32 divisor) as
        # sample_stratified / assign_split in sources/readers.py.
        coin = (
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10).cast("double")
            / F.lit(float(1 << 32))
        )
        rows = rows.filter(coin < sample_frac)
    # df cast to double BEFORE the multiply: a near-universal shingle on
    # a multi-billion-doc corpus pushes df*(df-1) past Long.MAX
    # (sampled DF > ~3e9), and a silent long wraparound would
    # UNDERESTIMATE pair volume in exactly the regime this probe exists
    # to catch. The sum is double anyway; doubles lose only ulps here.
    dff = F.col("df").cast("double")
    sampled_pairs = (
        shingle_rows(rows, "id", "text", n)
        .groupBy(F.xxhash64("sh").alias("shk"))
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(dff * (dff - 1) / F.lit(2.0)).alias("pairs"))
        .collect()[0]["pairs"]
    )
    return float(sampled_pairs or 0.0) / (sample_frac * sample_frac)


# The shared broadcast cap for probe-counted relations (round-6 brief
# #5: repeated_spans and remove_boilerplate_lines each hardcoded this
# as a literal — the cap semantics now live in one place). ~2M rows of
# 8-byte keys is tens of MB broadcast-side: far under executor budgets,
# far over anything Catalyst's autoBroadcastJoinThreshold would trust
# through an aggregate (whose size estimates round 6 measured to be
# unreliable — the whole reason these sites count instead of estimate).
BROADCAST_PROBE_ROW_CAP = 2_000_000


def pick_by_scalar(n: float, cap: float, small: str, large: str) -> str:
    """The cap rule of the measure-then-pick idiom, in one place:
    ``small`` while the MEASURED scalar is within ``cap`` (inclusive),
    ``large`` past it. Every adaptive site in this module routes
    through here so '<= means small side wins' can never drift between
    operators."""
    return small if n <= cap else large


def measured_strategy(
    rel: DataFrame, small: str, large: str
) -> tuple[str, DataFrame, int]:
    """Measure-then-pick over a RELATION (the probe idiom shared by
    ``repeated_spans``, ``remove_boilerplate_lines`` and — via
    :func:`pick_by_scalar` — ``choose_near_dup_strategy``): persist
    ``rel`` (it feeds the probe count AND the winning branch's plan —
    unpersisted it would be recomputed inside the downstream join),
    count it (ONE scalar to the driver — never the rows), and pick
    ``small`` vs ``large`` by :data:`BROADCAST_PROBE_ROW_CAP`, read at
    call time (tests reach each side by patching the constant).

    Returns ``(strategy, persisted_rel, n)``; callers must consume the
    RETURNED relation so the downstream plan reads the cache the probe
    paid for. Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    rel = persisted(rel)
    n = rel.count()
    return pick_by_scalar(n, BROADCAST_PROBE_ROW_CAP, small, large), rel, n


def choose_near_dup_strategy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    sample_frac: float = 1.0,
    pair_budget: float = 50_000_000.0,
) -> str:
    """Pick the near-dup strategy from the DATA, not from hope: returns
    ``"ngram"`` (exact posting-list blocking) while the estimated
    posting-pair volume fits ``pair_budget``, else ``"lsh"`` (MinHash
    banding, candidates ~ true-pair count, immune to the DF^2 blowup).

    This is the operating rule SCALING.md round 4 derived from the
    corpus_clean 100x-duplication sweep (ngram DNF at ~10,000x the pair
    volume; LSH linear) turned into code. ``pair_budget`` is the
    cluster knob: pair rows the dominant shuffle may emit, roughly
    ``pair_rows_per_core_per_sec x cores x acceptable_seconds`` (the
    sf0.1 bench sustains ~10M pair rows/s/32 cores through the posting
    stage; 50M keeps the default well inside the measured-healthy
    regime while tripping orders of magnitude before the cliff).

    Deterministic by construction (md5 sample, exact arithmetic) — safe
    on replayed/oracle-gated paths so long as the corpus is fixed."""
    est = estimate_posting_pair_volume(df, id_col, text_col, n, sample_frac)
    return pick_by_scalar(est, pair_budget, "ngram", "lsh")


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    mode: str = "flag",
) -> DataFrame:
    """Benchmark decontamination: find (``mode="flag"``) or remove
    (``mode="clean"``) training documents sharing at least one word
    ``n``-gram with an evaluation set — the anti-leakage pass every
    training-data pipeline runs before the corpus ships (13-gram
    overlap in the GPT-3 appendix; the reference era's analog was a
    reduce-side semi-join of tokenized corpora,
    ``M/lib/FieldSelectionMapReduce.java`` + the join contribs).

    ``flag`` returns ``(id, n_hits)`` — n_hits = DISTINCT shared
    n-grams, the triage signal for how contaminated a doc is; ``clean``
    returns the surviving training ROWS (anti-join on the flagged ids).

    Physics at 100 TB: shingles join on 8-byte ``xxhash64`` keys, never
    strings. The asymmetry is the whole design — an eval suite is
    bounded (thousands of docs, ~1e5-1e7 distinct n-grams => MBs
    hashed) while the corpus is not, so the eval side builds ONCE and
    broadcasts; the train side's shingle stream then semi-joins
    map-side with NO shuffle of the corpus at all in clean mode
    (flag mode shuffles only the matching (id, shingle) rows, a
    contamination-sized set). The eval side must be benchmark-sized:
    an eval set that is itself a corpus (~10M distinct shingles)
    measured 1.4x slower broadcast than as a shuffle join (SCALING.md
    r4). Hash-collision caveat as elsewhere in this module: a 2^-64
    collision could flag one extra n-gram — acceptable for a removal
    gate (errs toward removal)."""
    ev = F.broadcast(
        shingle_rows(evalset, id_col, text_col, n)
        .select(F.xxhash64("sh").alias("shk"))
        .distinct()
    )
    tr = shingle_rows(train, id_col, text_col, n).select(
        "id", F.xxhash64("sh").alias("shk")
    )
    flagged = (
        tr.join(ev, "shk")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    if mode == "flag":
        return flagged
    if mode != "clean":
        raise ValueError(f"mode must be 'flag' or 'clean', got {mode!r}")
    return train.join(
        flagged.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 60
) -> DataFrame:
    """MinHash signature per doc: for seed s, min over shingles of
    xxhash64(xxhash64(shingle), s). Fixed-size summary — the scalable
    sketch. Returns (id, h0..h{num_hashes-1}).

    Physical form: explode to (id, base_hash) rows, then ``num_hashes``
    codegen'd min-aggregates — partial aggregation (map-side combine)
    keeps the shuffle at one signature row per doc, and hashing the
    shingle to a long ONCE means the 60 seeded hashes each mix 8 bytes
    instead of re-hashing the shingle string. Measured ~7x faster than
    60 ``array_min(transform(...))`` expressions per row: higher-order
    lambdas run interpreted, while min-aggregates stay in whole-stage
    codegen (the explode itself is cheap once InferFiltersFromGenerate
    is excluded — see session.py).

    Construction (round 15, guide §5 "the driver"): each aggregate is
    ONE parsed SQL string, not a py4j Column composition — the old
    ``F.min(F.xxhash64(col, lit))`` per seed cost ~5 JVM round trips
    each (~0.31 s of pure construction per build, measured); the ANTLR
    parse of the same text is ~ms. Bit-identical: the SQL integer
    literal ``{s}`` is IntegerType exactly like ``F.lit(s)``, so
    xxhash64 mixes the same bytes (pinned in
    tests/test_optimizations_r15.py against pre-change values)."""
    base = shingle_rows(df, id_col, text_col, n).select("id", F.xxhash64("sh").alias("hb"))
    mins = [F.expr(f"min(xxhash64(hb, {s})) AS h{s}") for s in range(num_hashes)]
    return base.groupBy("id").agg(*mins)


def banded_signature_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 60,
    bands: int = 20,
) -> DataFrame:
    """LSH banding rows (id, band, bh): the signature's ``num_hashes``
    min-hashes grouped into ``bands`` bands of ``num_hashes//bands``
    rows, each band summarized by one 64-bit hash. ONE definition shared
    by the self-join pair generator (:func:`minhash_lsh_pairs`), the
    star-edge builder (:func:`minhash_bucket_edges`) and the persisted
    incremental state (:func:`minhash_state_write` /
    :func:`minhash_lsh_pairs_incremental`) — the banding function IS
    the state format, so the definitions must not diverge."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    # ONE parsed inline() expression (round 15): the old per-band
    # struct/explode Column composition cost ~100 py4j round trips per
    # build plus a second Dataset op to unpack the struct fields;
    # inline() emits (band, bh) columns directly. Values bit-identical
    # (same xxhash64 over the same h columns; the band literal is an
    # IntegerType in both forms) — pinned against pre-change output.
    entries = ", ".join(
        "struct({b} AS band, xxhash64({hs}) AS bh)".format(
            b=b, hs=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return sig.select("id", F.expr(f"inline(array({entries}))"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 60,
    bands: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """Approximate near-dup pairs: MinHash signatures → LSH banding →
    candidate pairs → EXACT Jaccard verification (so precision is 1.0;
    recall is the banding S-curve, ~0.999 for j >= 0.7 at 20 bands × 3
    rows). Output identical schema to ngram_jaccard_pairs.

    This is the 100 TB path: no all-pairs, no shingle-DF blowup —
    candidates come from equality joins on (band, band_hash).

    Materialization barrier (round 15, measured): the banded frame
    feeds BOTH sides of the candidate self-join, and Spark evaluates
    each side's subtree independently (AQE's runtime stage reuse only
    deduplicated one map stage of the heavy aggregation stages — the
    whole corpus was signature-hashed twice per run). Persisting
    banded (the corpus_clean s2 precedent) removes the second
    signature pass: A/B at sf0.1, min-converged, none 0.898 s vs
    banded-only 0.828 s. The shingle sets are deliberately NOT
    persisted: their arrays are fat, and caching them measured WORSE
    than recomputing both verify sides at this scale (docs-persisted
    variants 0.998/0.883 s); a 100 TB run that cannot afford two
    shingle passes materializes them to Parquet between stages — the
    corpus_clean JobControl note. Cache lifetime:
    :func:`~..plans.cache.cache_scope`."""
    banded = persisted(banded_signature_rows(df, id_col, text_col, n, num_hashes, bands))
    docs = doc_shingle_sets(df, id_col, text_col, n).withColumnRenamed("shs", "sh")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.col("inter") / (F.size("sh_a") + F.size("sh_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def simhash_bands(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash (Charikar) as 4 × 16-bit band values: per token, a
    64-bit hash; per bit, sum(+1/-1); fingerprint bit = sign. Band
    representation avoids signed-64 overflow and is directly the
    pigeonhole blocking key for Hamming <= 3 search.

    The 64 token-hash bits come from two 32-bit md5 chunks — an
    ENGINE-AGNOSTIC hash, so the whole fingerprint (and every pair
    decision downstream) is reproducible in any system with md5; the
    DuckDB oracle for dedup_simhash replays it bit-for-bit.

    Entirely groupBy/sum over exploded tokens — no Python.

    Construction (round 15, guide §5 "the driver"): the 64 bit-sum
    aggregates and the 4x16 band-packing chains are parsed SQL strings,
    not py4j Column compositions — the old per-element ``F.shiftright/
    F.when/F.sum`` chains cost ~0.77 s of pure JVM round-trip
    construction per build (measured; the parse of the same text is
    ~ms). The parsed trees are the same Catalyst expressions (CASE
    WHEN == F.when, ``&``/shiftright literals are IntegerType in both
    forms), so fingerprints are bit-identical — pinned in
    tests/test_optimizations_r15.py against pre-change values."""
    tok = df.select(F.col(id_col).alias("id"), F.explode(words_of(F.col(text_col))).alias("w"))
    lo = "CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT)"
    hi = "CAST(conv(substring(md5(w), 9, 8), 16, 10) AS BIGINT)"

    def bit(b: int) -> str:
        return f"(shiftright({lo if b < 32 else hi}, {b % 32}) & 1)"

    bit_sums = [
        F.expr(f"sum(CASE WHEN {bit(b)} = 1 THEN 1 ELSE -1 END) AS _b{b}")
        for b in range(64)
    ]
    sums = tok.groupBy("id").agg(*bit_sums)
    band_vals = [
        F.expr(
            "CAST(0 + "
            + " + ".join(
                f"(CASE WHEN _b{band * 16 + i} > 0 THEN {1 << i} ELSE 0 END)"
                for i in range(16)
            )
            + f" AS INT) AS band{band}"
        )
        for band in range(4)
    ]
    return sums.select("id", *band_vals)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming (<= 3):
    by pigeonhole, such pairs agree on >= 1 of the 4 16-bit bands.
    Physical form: :func:`hamming_pairs_from_bands` over the SimHash
    fingerprint (round 7: extracted so ANY 64-bit band fingerprint —
    e.g. image dHash, ``functions/multimodal.image_dhash_bands`` —
    shares the same pair machinery).

    The fingerprint frame is persist-barriered (round 15): the band
    self-join inside ``hamming_pairs_from_bands`` evaluates its input
    on BOTH sides, so without the barrier the 64-bit-sum token
    aggregation ran twice per call (measured: the two duplicate
    32-task agg stages collapse to one; the media paths already
    persist their bands before calling — this gives the text path the
    same physics). Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    bands = persisted(simhash_bands(df, id_col, text_col))
    return hamming_pairs_from_bands(bands, max_hamming)


def hamming_pairs_from_bands(
    sh: DataFrame, max_hamming: int = 3, key_cols: Sequence[str] = ()
) -> DataFrame:
    """Pairs at Hamming distance <= ``max_hamming`` (<= 3) over ANY
    64-bit fingerprint presented as (id, band0..band3) 16-bit bands —
    by pigeonhole such pairs agree exactly on >= 1 band, so candidates
    come from ONE equality self-join on exploded (band_index,
    band_value) rows — not 4 unioned per-band joins, which would
    evaluate the fingerprint subtree once per join side per band (8x);
    the exploded form evaluates it twice (~40% faster at sf0.1). Join
    key (bi, bv) is exact-match blocking; full band vectors ride along
    for the Hamming verify. Works for any fingerprint with the band
    layout: SimHash text sketches, image dHash, audio fingerprints.

    ``key_cols`` (round 9): extra columns folded into the equality key
    so pairs only form WITHIN a group — the mixed-modality corpus path
    passes ``["modality"]`` so an image dHash can never pair with a
    numerically-colliding audio fingerprint. Same physics, one more
    join column; default () is byte-identical to the old behavior.

    Construction (round 15, guide §5): the band explode, the two join
    sides and the Hamming verify are parsed SQL strings / selectExpr
    (one py4j round trip each instead of per-element Column
    composition), and inline() emits (bi, bv) directly — two Dataset
    ops fewer to re-analyze per build. Values bit-identical (same
    xxhash-free integer ops; 65535 == 0xFFFF as an int literal either
    way) — band pins in tests/test_optimizations_r15.py cover the
    upstream, the pair tests the output."""
    bands = [f"band{i}" for i in range(4)]
    keys = list(key_cols)
    banded = sh.select(
        "id",
        *keys,
        *bands,
        F.expr(
            "inline(array("
            + ", ".join(f"struct({b} AS bi, band{b} AS bv)" for b in range(4))
            + "))"
        ),
    )
    # selectExpr parses SQL: backtick-quote the caller's key names so a
    # reserved word (`order`) or a punctuated name stays a column
    quoted = ["`" + k.replace("`", "``") + "`" for k in keys]
    a = banded.selectExpr(
        "id AS id_a", *quoted, *[f"{c} AS a{i}" for i, c in enumerate(bands)], "bi", "bv"
    )
    b = banded.selectExpr(
        "id AS id_b", *quoted, *[f"{c} AS b{i}" for i, c in enumerate(bands)], "bi", "bv"
    )
    cands = (
        a.join(b, ["bi", "bv", *keys])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("bi", "bv", *keys)
        .distinct()
    )
    hamming = " + ".join(f"bit_count((a{i} ^ b{i}) & 65535)" for i in range(4))
    return cands.selectExpr(
        "id_a", "id_b", f"CAST({hamming} AS INT) AS hamming"
    ).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT cross-corpus near-dup pairs: (corpus_id, new_id, jaccard)
    for every new document within ``threshold`` of an EXISTING document
    — the incremental-ingest dedup shape. Unlike the self-join form, the
    corpus is never paired against itself: posting lists carry the two
    sides separately and only cross products are emitted, so a batch of
    B new docs against a corpus of N costs shingle-blocked B×N_df work,
    not (N+B)^2.

    Output: (id_a = corpus doc, id_b = new doc, jaccard >= threshold).

    100 TB: the corpus side's shingle rows are a candidate for a
    materialized (bucketed-by-shingle) table updated per ingest batch;
    the per-batch cost is then one shuffle of the NEW side only. The
    corpus stream is pre-filtered by a BROADCAST of the batch's
    distinct shingle set (the decontaminate idiom — the batch is
    bounded by the incremental-ingest contract), so corpus-side
    aggregation state is MATCH-bounded: without this, the posting
    groupBy builds a list for every corpus shingle — including the
    ~all of them no batch shingle can touch — and heap-dies at scale
    (measured round 6: OOM at a 50k-doc corpus under an 8 GB driver;
    filtered, the 500k corpus completes)."""
    c_rows = doc_shingle_sets(corpus_df, id_col, text_col, n).select(
        "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh_str")
    ).select("id", "n_sh", F.xxhash64("sh_str").alias("sh"))
    n_rows = doc_shingle_sets(new_df, id_col, text_col, n).select(
        "id", F.size("shs").alias("n_sh"), F.explode("shs").alias("sh_str")
    ).select("id", "n_sh", F.xxhash64("sh_str").alias("sh"))
    batch_shingles = n_rows.select("sh").distinct()
    c_rows = c_rows.join(F.broadcast(batch_shingles), "sh", "left_semi")
    if max_df is not None:
        # Same stop-shingle guard as the self-join form, applied to the
        # CORPUS-side document frequency: a shingle hot in the corpus
        # produces a cs×ns cross product per group (df_c · df_n pair
        # structs materialized in ONE array) — the documented DF²
        # regime, reproduced round 6 as a GC-kill at a 500k-doc
        # synthetic-vocabulary corpus. Dropping both sides keeps the
        # jaccard denominators exact; intersection counts become a
        # documented under-estimate, exactly as in ngram_jaccard_pairs.
        hot = (
            c_rows.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        c_rows = c_rows.join(F.broadcast(hot), "sh", "left_anti")
        n_rows = n_rows.join(F.broadcast(hot), "sh", "left_anti")
    posting = (
        _pin_posting_parallelism(
            c_rows.withColumn("side", F.lit(0)).unionByName(
                n_rows.withColumn("side", F.lit(1))
            ),
            "sh",
        )
        .groupBy("sh")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("side") == 0, F.struct("id", "n_sh")))
            ).alias("cs"),
            F.sort_array(
                F.collect_list(F.when(F.col("side") == 1, F.struct("id", "n_sh")))
            ).alias("ns"),
        )
        .filter((F.size("cs") > 0) & (F.size("ns") > 0))
    )
    # Cross product as two codegen'd Generates (round 15): see
    # _posting_pairs — replaces the interpreted nested-transform lambda;
    # value-identical, 1.3x on the explode stage under duplication.
    pairs = (
        posting.select("ns", F.explode("cs").alias("x"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("x.n_sh").alias("n_a"),
            F.explode("ns").alias("y"),
        )
        .select("id_a", "n_a", F.col("y.id").alias("id_b"), F.col("y.n_sh").alias("n_b"))
        .filter(F.least("n_a", "n_b") >= F.lit(threshold) * F.greatest("n_a", "n_b"))
    )
    return (
        pairs.groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def hashed_shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, n_sh, shs: array<bigint>) — each doc's distinct word-n-gram
    set as 8-byte xxhash64 values. Distinct-set Jaccard over the hashed
    sets equals Jaccard over the string sets up to 64-bit collisions
    (the same 2^-64 regime every hashed-shingle path here accepts), at
    ~1/8 the bytes of the median shingle string — this is the form the
    persisted dedup state stores."""
    return doc_shingle_sets(df, id_col, text_col, n).select(
        "id",
        F.size("shs").alias("n_sh"),
        F.transform("shs", lambda s: F.xxhash64(s)).alias("shs"),
    )


def minhash_state_write(
    df: DataFrame,
    id_col: str,
    text_col: str,
    state_name: str,
    n: int = 3,
    num_hashes: int = 60,
    bands: int = 20,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Materialize the corpus's LSH dedup state as probe-able bucketed
    tables, so a daily ingest batch deduplicates against 100 TB WITHOUT
    rescanning it (round-5 brief #4; reference model: MapFile as
    persisted probe-able state,
    ``/root/reference/src/core/org/apache/hadoop/io/MapFile.java:521``).

    Three tables:
    - ``{state_name}_bands`` (id, band, bh), bucketed+sorted by
      (band, bh): the candidate-probe side — the incremental join on
      (band, bh) reads buckets in place, shuffling ONLY the batch;
    - ``{state_name}_shingles`` (id, n_sh, shs), bucketed by id: the
      exact-verify side — only candidate ids are fetched;
    - ``{state_name}_meta``: one row pinning (n, num_hashes, bands,
      num_buckets). The banding function IS the state format; probing
      with different parameters would silently collapse recall, so the
      probe and the append take NO shingle/banding parameters at all —
      they read them from the meta row (mismatch is impossible by
      construction, not detected-and-raised). num_buckets rides along
      because Spark refuses a bucket-spec-mismatched append: without it
      a state written at any non-default bucket count could never be
      appended.

    Size: bands table = docs × bands × ~24 B; shingles table ≈ corpus
    token count × 8 B — an order under the corpus bytes, and the ONLY
    thing the next ingest reads."""
    from hadoop_20_warehouse_fix_spark.sources.writers import (
        ensure_managed_creatable,
        write_bucketed,
    )

    spark = df.sparkSession
    write_bucketed(
        banded_signature_rows(df, id_col, text_col, n, num_hashes, bands),
        f"{state_name}_bands",
        ["band", "bh"],
        num_buckets,
        path=f"{path}/bands" if path else None,
    )
    write_bucketed(
        hashed_shingle_sets(df, id_col, text_col, n),
        f"{state_name}_shingles",
        ["id"],
        num_buckets,
        path=f"{path}/shingles" if path else None,
    )
    meta = spark.createDataFrame(
        [(n, num_hashes, bands, num_buckets)],
        "n int, num_hashes int, bands int, num_buckets int",
    )
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_meta")
    w = meta.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/meta")
    else:
        ensure_managed_creatable(spark, f"{state_name}_meta")
    w.saveAsTable(f"{state_name}_meta")
    # A rebuild under a reused state name must not inherit the previous
    # state's tombstones (round-8 review) — dropped LAST, after every
    # new table landed, so a rebuild that fails partway leaves the
    # still-live OLD state's tombstones in force (a takedown must not
    # resurface because a later rebuild crashed; second-pass review).
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_tombstones")


def minhash_state_append(
    new_df: DataFrame, id_col: str, text_col: str, state_name: str
) -> None:
    """Fold an ingested batch INTO the persisted state (run AFTER the
    batch's pairs have been materialized — the probe's lazy plan lists
    state files at execution time, so appending first would let the
    batch match itself). Appends bucketed files; readers merge
    per-bucket, no rewrite of the existing 100 TB state."""
    from hadoop_20_warehouse_fix_spark.sources.writers import write_bucketed

    spark = new_df.sparkSession
    m = spark.table(f"{state_name}_meta").collect()[0]
    # num_buckets comes from the meta row, like every other state
    # parameter: Spark raises on a bucket-spec mismatch at append, so a
    # state written with a non-default bucket count would otherwise be
    # permanently un-appendable.
    write_bucketed(
        banded_signature_rows(new_df, id_col, text_col, m.n, m.num_hashes, m.bands),
        f"{state_name}_bands",
        ["band", "bh"],
        num_buckets=m.num_buckets,
        mode="append",
    )
    write_bucketed(
        hashed_shingle_sets(new_df, id_col, text_col, m.n),
        f"{state_name}_shingles",
        ["id"],
        num_buckets=m.num_buckets,
        mode="append",
    )


def minhash_state_delete(spark, state_name: str, ids) -> None:
    """Mark corpus docs DELETED in the persisted LSH state (round-6
    brief: recrawl churn and takedowns need the full lifecycle — write /
    append / probe / DELETE / compact). Deletion is a TOMBSTONE, not a
    rewrite: ``ids`` (a DataFrame with an ``id`` column, or a Python
    list of ids) is appended to ``{state_name}_tombstones``; the
    incremental probe anti-joins candidates against it (broadcast —
    deletions are small relative to the corpus), and the next
    :func:`minhash_state_compact` physically drops tombstoned rows from
    both state tables and clears the tombstone table. The reference
    model is MapFile's rewrite-on-update discipline
    (``/root/reference/src/core/org/apache/hadoop/io/MapFile.java:521``):
    point-deletes defer to the next full rewrite.

    Contract notes:
    - idempotent: deleting an id twice is harmless (the probe's
      anti-join and the compaction filter are set operations);
    - re-ingesting a tombstoned id before the next compaction keeps it
      suppressed (the tombstone outranks the append until compaction
      clears both) — compact first to resurrect an id;
    - the tombstone table is small and transient, so it lives as a
      managed warehouse table regardless of where the state data sits."""
    id_type = spark.table(f"{state_name}_bands").schema["id"].dataType
    _write_tombstones(spark, state_name, ids, "minhash_state_delete", id_type)


def _write_tombstones(spark, state_name: str, ids, op: str, id_type) -> None:
    """The one tombstone writer behind every persisted state's delete
    (:func:`minhash_state_delete`, :func:`media_state_delete`,
    ``similarity.ivf_state_delete``): append ``ids`` (a DataFrame with
    an ``id`` column, or a Python list) to ``{state_name}_tombstones``,
    cast to ``id_type`` — the id type of the state table the probes
    anti-join. Ids that are NULL or do not cast losslessly raise a
    ValueError naming ``op``, the public operation the caller called,
    before anything is written."""
    if not isinstance(ids, DataFrame):
        ids = list(ids)
        if not ids:
            return  # nothing to tombstone (schema inference would fail anyway)
        ids = spark.createDataFrame([(i,) for i in ids], ["id"])
    bad = _lossy_cast_count(ids, id_type)
    if bad:
        raise ValueError(
            f"{op}: {bad} id(s) are NULL or do not cast LOSSLESSLY to the "
            f"state's id type {id_type.simpleString()} — deletion would "
            "silently miss them or tombstone the wrong row"
        )
    # Orphan-proof create: the first delete after an interrupted earlier
    # process may find a stranded warehouse directory under this name
    # (the catalog has no table; saveAsTable would refuse with
    # LOCATION_ALREADY_EXISTS).
    from hadoop_20_warehouse_fix_spark.sources.writers import ensure_managed_creatable

    ensure_managed_creatable(spark, f"{state_name}_tombstones")
    (
        ids.select(F.col("id").try_cast(id_type).alias("id"))
        .distinct()
        .write.mode("append")
        .format("parquet")
        .saveAsTable(f"{state_name}_tombstones")
    )


def _lossy_cast_count(ids: DataFrame, target_type) -> int:
    """Rows whose ``id`` does not survive a round trip through
    ``target_type`` BY VALUE. Catches both lossy classes (round-7
    ADVICE + round-8 review): incompatible values that try_cast to
    NULL (non-numeric string vs long — plain cast would abort the job
    with an opaque ANSI error), AND truncating numeric casts (5.7 as a
    double try_casts to long 5 without NULL — the tombstone would land
    on the WRONG row). Value, not format: a zero-padded string id
    ("007" against a long column) round-trips to "7" — different
    string, same value, perfectly deletable (second-pass review caught
    the format-equality version hard-failing such ids). NULL ids are
    counted as lossy too (round-8 ADVICE: a NULL tombstone anti-joins
    NOTHING — the delete would silently no-op). ids are small by
    contract; one scalar job."""
    orig_type = ids.schema["id"].dataType
    orig = F.col("id")
    cast = orig.try_cast(target_type)
    back = cast.try_cast(orig_type)
    value_equal = (back == orig) | (
        orig.try_cast("double").isNotNull()
        & back.try_cast("double").isNotNull()
        & (orig.try_cast("double") == back.try_cast("double"))
    )
    lossy = orig.isNull() | cast.isNull() | ~F.coalesce(value_equal, F.lit(False))
    return ids.filter(lossy).count()


def _state_tombstones(spark, state_name: str) -> DataFrame | None:
    """The state's tombstone relation, or None when none exist. No
    emptiness probe: anti-joining an empty broadcast relation is free,
    and a probe job per lookup would not be."""
    ts = f"{state_name}_tombstones"
    return spark.table(ts) if spark.catalog.tableExists(ts) else None


def _table_location(spark, table: str) -> str:
    row = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter(F.col("col_name") == "Location")
        .collect()
    )
    return row[0].data_type


def _fs_delete(spark, location: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(location)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)


def _table_file_count(spark, table: str) -> int:
    # distinct-then-count: input_file_name() is non-deterministic and
    # Spark (correctly) refuses it inside an aggregate function.
    return spark.table(table).select(F.input_file_name().alias("f")).distinct().count()


def compact_bucketed_table(
    spark,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    tomb_ids: DataFrame | None = None,
    tomb_col: str = "id",
) -> tuple[int, int]:
    """The shared bucketed-table compaction engine (round 8: factored
    out of :func:`minhash_state_compact` so the IVF index state can
    reuse it verbatim): rewrite ``table`` in one pass, repartitioned to
    align shuffle partitions with bucket ids (one writer task per
    bucket -> ~one file per bucket), filtering out ``tomb_ids`` (joined
    on ``tomb_col``) — then swap into the catalog name via rename-aside
    alternating between two stable locations. The rewrite keeps the
    sorted-bucket layout because ``write_bucketed`` defaults
    ``sortBy(bucket_cols)`` — the quantized-IVF vectors table relies on
    that neighbor_id ordering for fetch-pushdown row-group pruning.
    Returns (files_before, files_after). All crash-recovery and
    location-ping-pong semantics as documented on
    :func:`minhash_state_compact`."""
    from hadoop_20_warehouse_fix_spark.sources.writers import write_bucketed

    before = _table_file_count(spark, table)
    loc = _table_location(spark, table)
    # Alternate between TWO stable locations so repeated compactions
    # ping-pong <base>__a <-> <base>__b instead of growing the path.
    base = loc.rstrip("/")
    while base.endswith("__compacting"):  # pre-round-7 legacy suffixes
        base = base[: -len("__compacting")]
    for suf in ("__a", "__b"):
        if base.endswith(suf):
            base = base[: -len(suf)]
            break
    tmp_loc = base + ("__b" if loc.rstrip("/").endswith("__a") else "__a")
    tmp_t = f"{table}__compacting"
    _fs_delete(spark, tmp_loc)  # leftovers from a crashed prior run
    spark.sql(f"DROP TABLE IF EXISTS {tmp_t}")
    spark.sql(f"DROP TABLE IF EXISTS {table}__old")
    # Read the FILES, not the catalog table: the bucketed scan
    # reports HashPartitioning on the bucket columns, so Catalyst
    # elides the repartition as redundant and every scan partition
    # writes its own per-bucket file — exactly the fragmentation
    # being compacted. A plain path scan carries no partitioning
    # claim; the repartition then aligns one shuffle partition per
    # bucket (same murmur3 pmod), giving ~one output file each.
    rewritten = spark.read.parquet(loc)
    if tomb_ids is not None:
        rewritten = rewritten.join(
            F.broadcast(tomb_ids.select(F.col("id").alias(tomb_col))),
            tomb_col,
            "left_anti",
        )
    write_bucketed(
        rewritten.repartition(num_buckets, *bucket_cols),
        tmp_t,
        bucket_cols,
        num_buckets=num_buckets,
        path=tmp_loc,
    )
    # Rename-aside swap: the live data keeps a catalog name at every
    # step, so a crash anywhere leaves state recoverable by rename
    # (round-6 review: DROP-then-RENAME had a window where the state
    # table vanished from the catalog with data stranded on disk).
    spark.sql(f"ALTER TABLE {table} RENAME TO {table}__old")
    spark.sql(f"ALTER TABLE {tmp_t} RENAME TO {table}")
    spark.sql(f"DROP TABLE {table}__old")
    _fs_delete(spark, loc)  # external drop leaves files; managed already gone
    return (before, _table_file_count(spark, table))


def minhash_state_compact(spark, state_name: str) -> dict[str, tuple[int, int]]:
    """Compact the persisted LSH state's bucketed tables (round-5 brief
    #5): every daily ``minhash_state_append`` lays down one new file set
    per bucket, so after N ingests each bucket is N files — the
    many-small-files problem the reference solved with HAR
    (``/root/reference/src/tools/org/apache/hadoop/tools/HadoopArchives.java``).
    Each table is rewritten in ONE pass, repartitioned to align shuffle
    partitions with bucket ids (one writer task per bucket → one file
    per bucket), into the ALTERNATE of two stable locations
    (``<base>__a`` / ``<base>__b`` — round-6 review: appending
    ``__compacting`` each run grew the path forever), with tombstoned
    rows (:func:`minhash_state_delete`) filtered out during the rewrite
    — the physical-deletion point, after which the tombstone table is
    cleared — then swapped into the catalog name via rename-aside: the live table is renamed to
    ``<t>__old``, the fresh table renamed into ``<t>``, and only then is
    the old table dropped and its files deleted. The swap is NOT atomic
    (the metastore has no multi-statement transaction): a crash between
    the two renames leaves ``<t>`` briefly absent, but BOTH copies of
    the data survive on disk under catalog names (``<t>__old`` and the
    fresh ``<t>__compacting``), so recovery is a rename, never a
    rebuild. Bucket spec (from the meta table) is preserved, so probe
    plans and the zero-exchange join physics are unchanged — pinned by
    the probe-equality pytest.

    Returns {table: (files_before, files_after)} for the two data
    tables. NOTE: in-flight LAZY probe plans captured before the
    compaction hold references to the old files and must be re-created
    (the same execution-time file-listing caveat as append ordering)."""
    return _compact_state(
        spark,
        state_name,
        {f"{state_name}_bands": ["band", "bh"], f"{state_name}_shingles": ["id"]},
        "id",
    )


def _compact_state(
    spark, state_name: str, tables: dict[str, list[str]], tomb_col: str
) -> dict[str, tuple[int, int]]:
    """The one state-compaction sequence behind
    :func:`minhash_state_compact`, :func:`media_state_compact` and
    ``similarity.ivf_state_compact``: rewrite each of ``tables``
    (name -> bucket columns; bucket count from ``{state_name}_meta``)
    through :func:`compact_bucketed_table`, dropping rows whose
    ``tomb_col`` is tombstoned. Returns {table: (files_before,
    files_after)}.

    Physical deletion point for tombstoned ids: the rewrite is the one
    moment every row is touched anyway, so the tombstone filter is free
    (MapFile's rewrite-on-update discipline). The tombstone ids are
    snapshotted to a persisted relation BEFORE the first rewrite, held
    by a :func:`~..plans.cache.cache_scope` so a failed rewrite releases
    it too. ``{state_name}_tombstones`` is dropped only after every
    rewrite succeeded, so a crash mid-compaction leaves them pending
    (re-applied next run), never half-forgotten."""
    num_buckets = spark.table(f"{state_name}_meta").collect()[0].num_buckets
    tomb = _state_tombstones(spark, state_name)
    with cache_scope():
        tomb_ids = None
        if tomb is not None:
            tomb_ids = persisted(tomb.select("id").distinct())
            tomb_ids.count()  # materialize: the source table dies before the lazy plan would run
        report = {
            t: compact_bucketed_table(
                spark, t, cols, num_buckets, tomb_ids=tomb_ids, tomb_col=tomb_col
            )
            for t, cols in tables.items()
        }
        if tomb is not None:
            spark.sql(f"DROP TABLE IF EXISTS {state_name}_tombstones")
    return report


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    state_name: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental-ingest near-dup pairs: every new doc within
    ``threshold`` Jaccard of an EXISTING corpus doc, probing the
    persisted state (:func:`minhash_state_write`) instead of rescanning
    the corpus. Semantics ≡ the cross-corpus slice of a full
    ``minhash_lsh_pairs`` rerun on corpus ∪ batch (pytest-pinned):
    candidates from (band, bh) equality against the bucketed bands
    table, exact Jaccard verify against the bucketed shingles table.

    Output: (id_a = corpus doc, id_b = new doc, jaccard).

    100 TB physics: the bands table is read bucket-aligned (no corpus
    shuffle — only the batch's band rows exchange); the verify join
    fetches shingle sets for CANDIDATE corpus ids only, again bucket-
    aligned on id. Per-ingest cost scales with the batch + its
    collision neighborhood, never with the corpus."""
    spark = new_df.sparkSession
    m = spark.table(f"{state_name}_meta").collect()[0]
    corpus_bands = spark.table(f"{state_name}_bands")
    corpus_sh = spark.table(f"{state_name}_shingles")
    new_bands = banded_signature_rows(
        new_df, id_col, text_col, m.n, m.num_hashes, m.bands
    )
    cand = (
        corpus_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Tombstoned corpus docs (minhash_state_delete) must not surface as
    # matches: broadcast anti-join — deletions are small by contract,
    # and the filter lands on the CANDIDATE set (already batch-sized),
    # never on the corpus tables.
    tomb = _state_tombstones(spark, state_name)
    if tomb is not None:
        cand = cand.join(
            F.broadcast(tomb.select(F.col("id").alias("id_a"))), "id_a", "left_anti"
        )
    new_sh = hashed_shingle_sets(new_df, id_col, text_col, m.n)
    verified = (
        cand.join(
            corpus_sh.select(
                F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), F.col("shs").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            new_sh.select(
                F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), F.col("shs").alias("sh_b")
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# Persisted incremental MEDIA dedup state (round-11 brief #2). Text has the
# full crawl-ingest lifecycle above (minhash_state_write/append/probe/
# delete/compact); media fingerprints (image dHash / audio spectral / video
# frame-dHash) had none — every capstone run rescanned (and re-DECODED) the
# whole media corpus. Same reference model: MapFile/BloomMapFile as
# persistent probe-able state (/root/reference/src/core/org/apache/hadoop/
# io/MapFile.java:49, BloomMapFile.java:45). Same machinery: bucketed band
# tables, tombstones, rename-aside compaction — reused verbatim.
# ---------------------------------------------------------------------------


def _media_band_rows(
    media: DataFrame, n_frames: int, min_flatness: float, demux_av: bool
) -> DataFrame:
    """Exploded per-band fingerprint rows for the media state tables:
    (id, modality, space, bi, bv, band0..band3). One row per (decoded
    payload, band index) — the pigeonhole candidate key (bi, bv) plus
    the full band vector for the Hamming verify, i.e. the `banded`
    relation inside :func:`hamming_pairs_from_bands`, materialized.
    ``space`` is the MATCHING space: ``audio_track`` shadow rows
    (demux_av) fold into ``audio`` so a standalone WAV and a video's
    demuxed soundtrack share a candidate key — the capstone's
    cross-container semantics; image/video spaces are their own. The
    space is ALSO folded into ``bi`` (image +0 / audio +4 / video +8),
    so the probe's equality join runs on exactly the bucket columns
    (bi, bv) — joining on a (bi, bv, space) superset would break the
    bucketed-scan alignment and re-shuffle the corpus side.
    Undecodable / gated payloads carry NULL bands and are excluded —
    a fingerprint of a failed decode would manufacture pairs."""
    from hadoop_20_warehouse_fix_spark.functions.multimodal import (
        media_fingerprint_bands,
    )

    bands = media_fingerprint_bands(
        media, n_frames=n_frames, min_flatness=min_flatness, demux_av=demux_av
    )
    bcols = [f"band{i}" for i in range(4)]
    space_offset = (
        F.when(F.col("space") == "audio", F.lit(4))
        .when(F.col("space") == "video", F.lit(8))
        .otherwise(F.lit(0))
    )
    return (
        bands.filter(F.col("band0").isNotNull())
        .select(
            "id",
            "modality",
            F.when(F.col("modality") == "audio_track", F.lit("audio"))
            .otherwise(F.col("modality"))
            .alias("space"),
            *bcols,
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(b).alias("bi"), F.col(f"band{b}").alias("bv"))
                        for b in range(4)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            "id",
            "modality",
            "space",
            (F.col("bb.bi") + space_offset).alias("bi"),
            F.col("bb.bv").alias("bv"),
            *bcols,
        )
    )


def media_state_write(
    media: DataFrame,
    state_name: str,
    n_frames: int = 3,
    min_flatness: float = 0.0,
    demux_av: bool = False,
    num_buckets: int = 16,
    path: str | None = None,
) -> None:
    """Materialize a media corpus's fingerprint-dedup state as a
    probe-able bucketed table, so an ingest batch deduplicates against
    the full corpus WITHOUT rescanning — or re-DECODING — it (decode
    cost is the payload bytes; at 100 TB the state table is 4 rows x
    ~40 B per decoded payload, orders under the corpus).

    Tables:
    - ``{state_name}_bands`` (id, modality, space, bi, bv,
      band0..band3), bucketed+sorted by (bi, bv): the candidate-probe
      side — the incremental join reads buckets in place, shuffling
      ONLY the batch's band rows;
    - ``{state_name}_meta``: one row pinning (n_frames, min_flatness,
      demux_av, num_buckets). The fingerprint function IS the state
      format (same discipline as :func:`minhash_state_write`): probe
      and append take NO fingerprint parameters — they read the meta
      row, so a mismatch is impossible by construction.

    Thresholds (``max_hamming``) are PROBE-time parameters, like the
    text state's ``threshold`` — they tighten candidate verification,
    not the stored format."""
    from hadoop_20_warehouse_fix_spark.sources.writers import (
        ensure_managed_creatable,
        write_bucketed,
    )

    spark = media.sparkSession
    write_bucketed(
        _media_band_rows(media, n_frames, min_flatness, demux_av),
        f"{state_name}_bands",
        ["bi", "bv"],
        num_buckets,
        path=f"{path}/bands" if path else None,
    )
    meta = spark.createDataFrame(
        [(int(n_frames), float(min_flatness), bool(demux_av), int(num_buckets))],
        "n_frames int, min_flatness double, demux_av boolean, num_buckets int",
    )
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_meta")
    w = meta.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/meta")
    else:
        ensure_managed_creatable(spark, f"{state_name}_meta")
    w.saveAsTable(f"{state_name}_meta")
    # Dropped LAST (round-8 review, as minhash_state_write): a rebuild
    # that fails partway leaves the still-live OLD state's tombstones
    # in force.
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_tombstones")


def media_state_append(new_media: DataFrame, state_name: str) -> None:
    """Fold an ingested media batch INTO the persisted state (run AFTER
    the batch's pairs have been probed — the probe's lazy plan lists
    state files at execution time, so appending first would let the
    batch match itself). Appends bucketed files; no rewrite of the
    existing state."""
    from hadoop_20_warehouse_fix_spark.sources.writers import write_bucketed

    spark = new_media.sparkSession
    m = spark.table(f"{state_name}_meta").collect()[0]
    write_bucketed(
        _media_band_rows(new_media, m.n_frames, m.min_flatness, m.demux_av),
        f"{state_name}_bands",
        ["bi", "bv"],
        num_buckets=m.num_buckets,
        mode="append",
    )


def media_hamming_thresholds(max_hamming: int | dict[str, int]) -> dict[str, int]:
    """Validated per-modality Hamming thresholds for the media dedup
    state family (probe + streaming ingest): dict keys restricted to
    image/audio/video with ABSENT keys defaulting to 3 (the capstone's
    fill), and every value capped at 3 — band-equality candidates
    guarantee recall only for Hamming <= 3 (pigeonhole over 4 bands),
    so a wider threshold raises instead of silently under-recalling."""
    if isinstance(max_hamming, dict):
        bad = set(max_hamming) - {"image", "audio", "video"}
        if bad:
            raise ValueError(
                f"max_hamming keys must be image/audio/video, got {sorted(bad)}"
            )
        thresholds = {k: int(max_hamming.get(k, 3)) for k in ("image", "audio", "video")}
    else:
        thresholds = {k: int(max_hamming) for k in ("image", "audio", "video")}
    too_wide = {k: v for k, v in thresholds.items() if v > 3}
    if too_wide:
        raise ValueError(
            f"max_hamming > 3 is not supported ({too_wide}): band-equality "
            "candidates guarantee recall only for Hamming <= 3 (pigeonhole "
            "over 4 bands) — a wider threshold would silently miss pairs"
        )
    return thresholds


def media_state_probe(
    new_media: DataFrame, state_name: str, max_hamming: int | dict[str, int] = 3
) -> DataFrame:
    """Incremental near-dup media pairs: every new payload within
    ``max_hamming`` of an EXISTING corpus payload, probing the
    persisted state instead of re-decoding the corpus. Semantics ≡ the
    cross-corpus slice of a full fingerprint rerun on corpus ∪ batch
    (pytest-pinned). Output: (id_a = corpus id, id_b = new id,
    hamming, mod_a, mod_b) — modalities ride along so capstone-style
    consumers can apply pair-shape policy (e.g. ignore track–track
    pairs, drop only the standalone-audio side of an audio/audio_track
    pair) without re-joining.

    ``max_hamming`` may be a per-modality dict (image/audio/video —
    the audio threshold also governs ``audio_track`` rows, which fold
    into the audio matching space exactly as the capstone's
    cross-container stage does); ABSENT keys default to 3, the same
    fill the capstone's ``_media_thresholds`` applies. Thresholds are
    capped at 3: candidates come from exact band equality, and by
    pigeonhole over 4 bands that guarantees recall only for Hamming
    <= 3 — a larger threshold would silently miss pairs whose
    differing bits span all four bands, so it raises instead. Ids
    must be globally unique across corpus and batches (the
    text-state contract).

    100 TB physics: the bands table is read bucket-aligned on
    (bi, bv) — only the batch's band rows shuffle; per-ingest cost
    scales with the batch + its collision neighborhood, never with
    the corpus, and the corpus is never re-decoded."""
    spark = new_media.sparkSession
    m = spark.table(f"{state_name}_meta").collect()[0]
    thresholds = media_hamming_thresholds(max_hamming)
    new_rows = _media_band_rows(new_media, m.n_frames, m.min_flatness, m.demux_av)
    corpus = spark.table(f"{state_name}_bands")
    # space rides only the corpus side: bi already encodes it (equal bi
    # implies equal space), and carrying it on both sides would either
    # widen the join key past the bucket columns or duplicate-name it
    a = corpus.select(
        F.col("id").alias("id_a"),
        F.col("modality").alias("mod_a"),
        "space",
        "bi",
        "bv",
        *[F.col(f"band{i}").alias(f"a{i}") for i in range(4)],
    )
    b = new_rows.select(
        F.col("id").alias("id_b"),
        F.col("modality").alias("mod_b"),
        "bi",
        "bv",
        *[F.col(f"band{i}").alias(f"b{i}") for i in range(4)],
    )
    cand = a.join(b, ["bi", "bv"]).drop("bi", "bv").distinct()
    tomb = _state_tombstones(spark, state_name)
    if tomb is not None:
        cand = cand.join(
            F.broadcast(tomb.select(F.col("id").alias("id_a"))), "id_a", "left_anti"
        )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")).bitwiseAND(F.lit(0xFFFF)))
        for i in range(4)
    )
    thr = F.create_map(*[F.lit(x) for k, v in thresholds.items() for x in (k, v)])
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= thr[F.col("space")])
        .select("id_a", "id_b", "hamming", "mod_a", "mod_b")
    )


def media_state_delete(spark, state_name: str, ids) -> None:
    """Tombstone media payloads in the persisted fingerprint state —
    takedowns and recrawl churn, same lifecycle as
    :func:`minhash_state_delete` (the shared :func:`_write_tombstones`:
    the tombstone table, the lossless-id-cast guard, the probe
    anti-join, compaction as the physical-deletion point). A
    tombstoned VIDEO's demuxed soundtrack rows share its id, so one
    tombstone suppresses both the video and its shadow track."""
    id_type = spark.table(f"{state_name}_bands").schema["id"].dataType
    _write_tombstones(spark, state_name, ids, "media_state_delete", id_type)


def media_state_compact(spark, state_name: str) -> dict[str, tuple[int, int]]:
    """Compact the media state's bands table (one file set per bucket
    per append otherwise), physically dropping tombstoned rows, via
    the shared :func:`_compact_state`.
    Returns {table: (files_before, files_after)}."""
    return _compact_state(spark, state_name, {f"{state_name}_bands": ["bi", "bv"]}, "id")


def _connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public): O(log^2 n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter) — the rule for long-chain / general edge
    lists where a quasi-clique assumption doesn't hold.

    Each operation is one window-min + filter over the edge list
    (single hash exchange per op — the same physical shape as one
    min-label round), edges kept oriented (big, small):
    - large-star: per node u, connect every LARGER neighbor to
      m = min(Γ(u) ∪ {u}) — splits high-degree hubs;
    - small-star: per node u over its smaller neighbors, connect u and
      every non-min neighbor to the min — contracts toward the root.

    Fixed point: the edge list stops changing; every non-root node then
    points directly at its component minimum. Change detection compares
    (count, xor of per-edge hashes) across rounds — edge lists are
    DISTINCT sets, so the xor is a set checksum; a false fixed point
    needs a simultaneous 2^-64 collision (the regime every hashed path
    here documents and accepts)."""
    from pyspark.sql import Window

    E = persisted(
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = persisted(
        E.select(F.col("u").alias("id"))
        .unionByName(E.select(F.col("v").alias("id")))
        .distinct()
    )

    def checksum(e: DataFrame) -> tuple[int, int]:
        # bit_xor is a commutative partial-aggregable aggregate: each
        # task folds its partition into ONE long and partials merge —
        # constant memory regardless of |E| (round-6 review: the prior
        # collect_list form materialized every edge hash in a single
        # aggregation buffer, O(E) in one task on exactly the large
        # graphs this rule exists for).
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
        ).collect()[0]
        return int(row.n), int(row.x)

    prev = checksum(E)
    converged = False
    for it in range(max_iter):
        # large-star over the SYMMETRIC view: every endpoint's full
        # neighborhood, larger neighbors re-pointed at the local min.
        sym = E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        wl = Window.partitionBy("u")
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(wl), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over the (big, small) orientation.
        ws = Window.partitionBy("u")
        with_min = ls.withColumn("m", F.min("v").over(ws))
        # persisted: the last round's edge list escapes in the result;
        # earlier rounds are released below as they are superseded.
        new_e = persisted(
            with_min.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(with_min.select("u", F.col("m").alias("v")))
            .distinct()
        )
        # Lineage hygiene: same iterative-plan truncation as min-label.
        if (it + 1) % 5 == 0:
            cp = new_e.localCheckpoint(eager=True)
            new_e.unpersist()
            new_e = cp
        cur = checksum(new_e)
        E.unpersist()
        E = new_e
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components(rule='star') hit max_iter={max_iter} without "
            "a fixed point; labels may be non-canonical — raise max_iter "
            "(O(log^2 n) rounds suffice for any graph)",
            stacklevel=3,
        )
    # At the fixed point every non-root u carries exactly the edge
    # (u, root); min-agg anyway so an unconverged state degrades to the
    # best label seen rather than duplicating nodes.
    final = E.groupBy("u").agg(F.min("v").alias("label"))
    # E and nodes stay persisted: the returned LAZY plan reads both, and
    # dropping E's cache here would force a recompute through every
    # round's lineage. The caller's cache_scope releases them.
    return (
        nodes.join(final, nodes["id"] == final["u"], "left")
        .select(nodes["id"], F.coalesce(F.col("label"), nodes["id"]).alias("cluster_id"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    rule: str = "min_label",
) -> DataFrame:
    """Connected components over a near-dup pair list — the clustering
    step after pair generation (minhash/simhash/ngram): every doc in a
    component is a duplicate of every other via a chain, and the cluster
    representative is the MIN id (deterministic canonical doc).

    Algorithm: iterative min-label propagation on DataFrames. Labels
    start as each node's own id; each round every node takes the min of
    its label and its neighbors' labels (one equality join + min-agg
    per round). Labels decrease monotonically, so convergence is
    detected by one scalar agg: COUNT of rows whose label changed this
    round == 0 -> fixed point. (A sum-of-labels comparison is the same
    single-scalar shape but overflows bigint under ANSI mode once ids
    reach ~6e17 snowflake magnitude at ~16+ nodes — a count is bounded
    by the node count and can neither overflow nor false-converge.)
    Rounds needed = component diameter; near-dup components are dense
    quasi-cliques (diameter 2-4), so this terminates in a handful of
    rounds. For adversarial long-chain / general edge lists, pass
    ``rule="star"``: alternating large-star/small-star (Kiveris et al.,
    SoCC'14 — public), O(log^2 n) rounds with the same window+filter
    physical shape per round (:func:`_connected_components_star`,
    round-5 brief #4 — now code, not documentation; equality with
    min-label is pytest-pinned on random graphs, and a 60-node path
    that exhausts min-label's default round cap converges in ~6 star
    rounds).

    Returns (id, cluster_id) for every node that appears in ``edges``;
    callers left-join and coalesce to give singletons their own id."""
    if rule not in ("min_label", "star"):
        raise ValueError(f"rule must be 'min_label' or 'star', got {rule!r}")
    if rule == "star":
        return _connected_components_star(edges, src, dst, max_iter)
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = sym.persist()
    labels = persisted(
        sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    converged = False
    for it in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_label = F.least(
            labels["label"], F.coalesce(F.col("nbr_label"), labels["label"])
        )
        # persisted: the last round's labels escape in the result;
        # earlier rounds are released below as they are superseded.
        new_labels = persisted(
            labels.join(nbr_min, labels["id"] == nbr_min["a"], "left")
            .select(
                labels["id"],
                new_label.alias("label"),
                (new_label < labels["label"]).cast("int").alias("_chg"),
            )
        )
        n_changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels.unpersist()
        labels = new_labels
        if n_changed == 0:
            converged = True
            break
        # Iterative plans nest one join per round; past a few rounds the
        # lineage itself becomes the cost (analysis time, task binary
        # size). localCheckpoint truncates it to the materialized data —
        # the standard iterative-algorithm hygiene on long chains. The
        # cached pre-checkpoint DF is unpersisted BEFORE rebinding, or
        # every 5th round's cache would stay pinned for the session.
        if (it + 1) % 5 == 0:
            cp = labels.localCheckpoint(eager=True)
            labels.unpersist()
            labels = cp
    sym.unpersist()
    if not converged:
        # An unconverged label set is silently WRONG for survivor-style
        # consumers: a long-chain component whose diameter exceeds
        # max_iter leaves non-canonical hubs labeled as themselves, and
        # dedup would keep extra "survivors". Loud, not fatal — callers
        # that only need approximate clusters may proceed.
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} without converging "
            "(component diameter exceeds the round cap); labels may be "
            "non-canonical — raise max_iter or switch to the large-star/"
            "small-star rule for long-chain graphs",
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_lines_within_doc(
    df: DataFrame, id_col: str, text_col: str, out_name: str = "text"
) -> DataFrame:
    """Intra-document repetition removal: keep the FIRST occurrence of
    each exact line within a document, preserve line order, rejoin —
    the navigation/footer-spam cleanup pass (CCNet/Dolma-style) that
    runs before any cross-document dedup.

    Entirely row-local array expressions (split -> positional explode ->
    min-position per distinct line -> ordered reassembly)? No — the
    whole thing stays INSIDE one higher-order expression per row
    (aggregate over the line array with an accumulator of seen lines),
    so there is NO explode and NO shuffle: a pure scan-fused projection
    at any scale."""
    lines = F.split(F.col(text_col), "\n")
    # accumulate (kept_array) over lines: append if not already present
    dedup = F.aggregate(
        lines,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc).otherwise(
            F.concat(acc, F.array(x))
        ),
    )
    return df.select(
        F.col(id_col), F.array_join(dedup, "\n").alias(out_name)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 3,
    out_name: str = "text",
) -> DataFrame:
    """Cross-document boilerplate removal: a line that appears in >=
    ``min_docs`` DISTINCT documents is boilerplate (headers, footers,
    cookie banners) and is dropped from every document; line order
    otherwise preserved. Cache lifetime of the probe's persisted
    relation: :func:`~..plans.cache.cache_scope`.

    The boilerplate lines are counted (one scalar — the
    :func:`measured_strategy` probe) and pick one of two physical
    forms, identical semantics (equality pytest-pinned):

    - ``broadcast``, up to :data:`BROADCAST_PROBE_ROW_CAP` lines:
      distinct (doc, line) rows -> line document-frequency -> one
      collected boilerplate ARRAY broadcast to a per-row array filter.
      The DF aggregation shuffles one row per distinct (doc, line) —
      bounded by corpus line vocabulary — and the rewrite is
      scan-fused. Dies when the boilerplate set outgrows
      driver/broadcast memory.
    - ``anti``, past the cap: posexplode every doc's lines, LEFT ANTI
      join against the boilerplate relation on the line value,
      reassemble in position order per doc. The corpus's line rows
      shuffle (join + per-doc regroup — two exchanges the broadcast
      form avoids), but NOTHING is ever collected: the boilerplate
      side stays distributed, so an arbitrarily large boilerplate set
      (adversarial or just 100 TB-diverse) cannot kill the driver.

    A document whose every line is boilerplate survives as empty text
    in BOTH forms (the anti form left-joins the reassembly back to the
    corpus ids — an all-lines-removed doc must not vanish)."""
    lines_rows = df.select(
        F.col(id_col).alias("_id"), F.explode(F.array_distinct(F.split(F.col(text_col), "\n"))).alias("line")
    )
    boiler = (
        lines_rows.groupBy("line")
        .agg(F.count_distinct("_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("line")
    )
    # The shared measure-then-pick probe: one scalar to the driver; the
    # boilerplate relation is consumed again by whichever branch wins,
    # so the helper pins it across both actions.
    strategy, boiler, _ = measured_strategy(boiler, "broadcast", "anti")
    if strategy == "broadcast":
        boiler_arr = boiler.agg(F.sort_array(F.collect_list("line")).alias("bl"))
        return df.crossJoin(F.broadcast(boiler_arr)).select(
            F.col(id_col),
            F.array_join(
                F.filter(F.split(F.col(text_col), "\n"), lambda x: ~F.array_contains(F.col("bl"), x)),
                "\n",
            ).alias(out_name),
        )
    # anti: position-tagged explode -> distributed anti join -> ordered
    # reassembly -> left join back so all-boilerplate docs keep a row.
    pos_lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "line"),
    )
    kept = pos_lines.join(boiler, "line", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_rebuilt")
    )
    # MERGE hint: the rebuilt side carries every surviving doc's full
    # text — corpus-sized by construction — and aggregate-output size
    # estimates are unreliable enough for AQE to try broadcasting it
    # (the round-6 span-join lesson). The groupBy already partitioned
    # rebuilt by _id, so SMJ adds no exchange on that side.
    return (
        df.select(F.col(id_col))
        .join(rebuilt.hint("merge"), F.col(id_col) == F.col("_id"), "left")
        .select(F.col(id_col), F.coalesce(F.col("_rebuilt"), F.lit("")).alias(out_name))
    )


def minhash_bucket_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 60,
    bands: int = 20,
) -> DataFrame:
    """STAR edges of the LSH bucket-co-membership graph: every doc in a
    band bucket is connected to the bucket's MIN id (the hub), giving
    O(sum of bucket sizes) = O(docs x bands) edges — NEVER the
    O(bucket_size^2) pair enumeration. Bucket co-membership generates
    the same connectivity relation as candidate pairs, so connected
    components over star edges equal components over the full candidate
    pair graph (hub-spoke chains replace within-bucket cliques).

    This is the web-scale dedup shape: on a corpus where every doc has
    49 near-clones, pair enumeration is TH(cluster^2) BY CONTRACT
    (measured in SCALING.md: the x50 tiled corpus GC-kills the pairwise
    join) while the star graph stays linear in corpus size."""
    banded = banded_signature_rows(df, id_col, text_col, n, num_hashes, bands)
    hubs = banded.groupBy("band", "bh").agg(F.min("id").alias("id_a"))
    return (
        banded.join(hubs, ["band", "bh"])
        .select("id_a", F.col("id").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def dedup_minhash_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 60,
    bands: int = 20,
    max_iter: int = 25,
) -> DataFrame:
    """Keep ONE canonical doc (min id) per near-dup component without
    ever enumerating duplicate pairs: minhash -> band buckets -> star
    edges -> connected components -> drop every doc whose component
    label is not itself. End-to-end linear in corpus size + duplication
    factor — the form a 100 TB pipeline actually runs when the goal is
    the deduplicated corpus rather than a duplicate-pair report."""
    edges = minhash_bucket_edges(df, id_col, text_col, n, num_hashes, bands)
    cc = connected_components(edges, max_iter=max_iter)
    dropped = cc.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dropped, id_col, "left_anti")


def _karp_rabin_window_hashes(window: int):
    """Factory: Arrow-batched Karp-Rabin window fingerprints — for each
    document, the polynomial hash (mod 2^64) of EVERY ``window``-char
    substring, as ``array<bigint>`` indexed by 0-based start position.

    O(len) per document (the round-4 expression path re-hashed each
    window from scratch — O(len·window) character work, a ~window×
    constant at window=50). The linear form needs a prefix scan, which
    Spark's higher-order functions cannot express in O(len) (an
    ``aggregate`` that appends to an array copies it per step —
    O(len²)), so this is the sanctioned Pandas-UDF escape: numpy-
    vectorized per doc, Arrow-batched, never per-row Python.

    Math: with odd base B (invertible mod 2^64 — uint64 arithmetic
    wraps to exactly the modulus for free), weighted prefix sums
    S[i] = Σ_{j<=i} c[j]·B^(L-1-j) give the window hash at p as
    (S[p+w-1] - S[p-1])·B^-(L-w-p): three vectorized passes
    (codepoints via utf-32, cumsum, one multiply). Same-substring ⇒
    same-hash holds exactly, so detection RECALL is exact for any
    hash quality.

    Collision caveat (round-5 review): polynomial hashing mod a power
    of two has algebraic structure — Thue–Morse-style difference
    polynomials are divisible by large powers of 2 for EVERY base, so
    structured/adversarial text can hit cross-substring collisions far
    more easily than the generic 2^-64 estimate suggests (a 1024-char
    pair built from Prouhet–Thue–Morse signs collides by construction;
    pinned in tests). This is why :func:`repeated_spans` always
    verifies candidate windows against their actual substring bytes —
    a collision then costs wasted verify work, not silently deleted
    unique text."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    base_int = 0x9E3779B97F4A7C15  # odd 64-bit (golden-ratio constant)
    inv_int = pow(base_int, -1, 1 << 64)
    # power tables grow lazily per python worker and amortize across
    # batches (closure state survives for the executor's lifetime)
    state: dict[str, "np.ndarray"] = {}

    def _powers(n: int) -> tuple["np.ndarray", "np.ndarray"]:
        pw = state.get("pw")
        if pw is None or len(pw) < n + 1:
            size = max(n + 1, 4096)
            with np.errstate(over="ignore"):
                pw = np.empty(size, dtype=np.uint64)
                ipw = np.empty(size, dtype=np.uint64)
                pw[0] = ipw[0] = 1
                np.cumprod(np.full(size - 1, base_int, dtype=np.uint64), out=pw[1:])
                np.cumprod(np.full(size - 1, inv_int, dtype=np.uint64), out=ipw[1:])
            state["pw"], state["ipw"] = pw, ipw
        return state["pw"], state["ipw"]

    # No type-hint signature: `from __future__ import annotations`
    # stringifies hints and the local `pd` alias can't be resolved by
    # pyspark's hint inspector — the explicit returnType carries it.
    def _rk(texts):
        empty = np.array([], dtype=np.int64)
        out = []
        for s in texts:
            if s is None:
                out.append(empty)
                continue
            length = len(s)
            k = length - window + 1
            if k <= 0:
                out.append(empty)
                continue
            pw, ipw = _powers(length)
            codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.uint64)
            with np.errstate(over="ignore"):
                prefix = np.cumsum(codes * pw[length - 1 :: -1])
                diff = prefix[window - 1 :].copy()
                diff[1:] -= prefix[: k - 1]
                hashes = diff * ipw[length - window :: -1][:k]
            out.append(hashes.view(np.int64))
        return pd.Series(out)

    return pandas_udf(_rk, returnType="array<bigint>")


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide EXACT-SUBSTRING detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact
    duplicated spans, not near-dup documents): every ``window``-char
    substring (sampled every ``stride`` chars) that occurs in at least
    ``min_docs`` DISTINCT documents, reported as (id, start, end)
    1-based char spans per occurrence.

    The reference method builds a corpus-wide suffix array — a
    single-machine construction. The Spark-native equivalent trades it
    for a fingerprint shuffle: per-row window hashes, count distinct
    docs per fingerprint (map-side partial agg), keep the repeated
    ones. ``stride=1`` hashes every position — exact for spans >=
    window. ``stride>1`` subsamples by WINNOWING (Schleimer et al.
    SIGMOD'03, the MOSS fingerprinter): keep the minimum hash of every
    ``stride`` consecutive window positions. Selection is
    content-defined, so two occurrences of the same span select the
    SAME in-span fingerprints regardless of their absolute offsets —
    the property absolute-position sampling (``pos % stride == 0``)
    lacks: offsets differing by 1 would then never share a
    fingerprint, silently missing most repeats. Winnowing's guarantee:
    every repeated span of length >= window + stride - 1 contains a
    full stride-block of window positions, whose min is selected in
    BOTH docs — detection is certain, reported positions are the
    selected (sampled) windows inside the span.

    Shuffle volume ~ len(text)/stride 12-byte rows per doc — linear,
    skew bounded by max doc length; a boilerplate fingerprint's
    posting count is bounded by the partial agg, never materialized as
    a list. The fingerprint pass is an O(len) Karp-Rabin prefix hash
    (Arrow-batched numpy — see :func:`_karp_rabin_window_hashes`) with
    exact RECALL (same-substring ⇒ same-fingerprint). The winnow
    arrays are per-row HOFs (O(len·stride) worst case interpreted —
    stride is meant to be small, 4-16).

    Every candidate window is re-checked against its ACTUAL substring
    bytes: candidates join back to ``df`` and the distinct-doc count
    re-runs grouped by the substring itself, so a fingerprint
    collision (two different substrings, same hash) can never mark a
    unique span as repeated — the rolling hash's mod-2^64 structure
    admits adversarial collisions on structured text (see
    :func:`_karp_rabin_window_hashes`; the Thue–Morse colliding pair
    is pinned in tests). Cost: one extra join whose volume is the
    CANDIDATE set (actual duplication + collisions, never the corpus)
    carrying window-char strings, plus a second scan of ``df`` —
    persist ``df`` first if it is expensive to recompute.
    NOTE: the detected-window relation is consumed twice downstream
    (hot-count + join) and is therefore persisted inside this
    function. Cache lifetime: :func:`~..plans.cache.cache_scope`."""
    if window < 1 or stride < 1:
        raise ValueError(f"window and stride must be >= 1, got {window}, {stride}")
    if min_docs < 2:
        # min_docs=1 marks EVERY window repeated; downstream removal
        # would silently strip the whole corpus. Loud failure instead.
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # O(len) Karp-Rabin fingerprint pass (round-5 brief #2): the
    # Arrow-batched prefix-hash UDF returns one bigint per window
    # position; the transform zips positions on JVM-side (its array
    # child evaluates once per row — no re-evaluation hazard).
    rk = _karp_rabin_window_hashes(window)
    hashes = F.transform(
        rk(F.col(text_col)),
        lambda h, i: F.struct(h.alias("h"), (i + 1).cast("int").alias("p")),
    )
    # PROJECTION BARRIER (the doc_shingle_sets idiom): the winnow lambda
    # below must reference a BOUND column, not the inline hash
    # expression — inlined, every stride-block would re-evaluate all k
    # window hashes (O(len^2 * window) per doc; measured 575 s vs 6 s
    # on the 5k corpus before this barrier existed).
    hashed = df.select(F.col(id_col).alias("id"), hashes.alias("_hs"))
    hs = F.col("_hs")
    if stride == 1:
        sel = hs
    else:
        # Winnow: leftmost-min (array_min orders by (h, p)) of each
        # stride-block of consecutive positions, deduped.
        kk = F.size(hs)
        n_blocks = F.greatest(kk - stride + 1, F.lit(1))
        sel = F.when(
            kk > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_blocks),
                    lambda w: F.array_min(F.slice(hs, w, F.least(F.lit(stride), kk))),
                )
            ),
        ).otherwise(hs)
    # Repartition by fingerprint BEFORE persisting: the explode inherits
    # the SCAN's partitioning (a handful of fat file partitions at
    # bench scale — ~9M rows each on the 500k corpus), and every
    # downstream consumer of the cache would inherit them too; round-6
    # measurement saw the verify aggregation starve executor memory on
    # those fat partitions. The hot-count aggregation needs this exact
    # exchange anyway (groupBy fp), so moving it ahead of the persist
    # adds ZERO net shuffles — it just caches the relation already
    # bucket-aligned and right-sized for both the agg and the join.
    wins = persisted(
        hashed.select("id", F.explode(sel).alias("s"))
        .select("id", F.col("s.p").alias("start"), F.col("s.h").alias("fp"))
        .repartition("fp")
    )
    # hot is persisted BEFORE the probe count: it feeds the count AND
    # the join below, and the count_distinct expand over the full wins
    # relation is the single most expensive aggregation here — measured
    # round 6: leaving it unpersisted re-ran that aggregation inside
    # the join and cost +68% end-to-end at 500k docs.
    # Adaptive join strategy, decided by a MEASURED scalar, not by
    # Catalyst's size estimate: round-6 measurement caught the
    # estimate-driven planner broadcasting the WRONG side of this join
    # (the 75M-row wins relation — 1.4 GB to the driver) on the
    # 500k-doc adversarial corpus. hot (the repeated-fingerprint set)
    # is the only side that may broadcast, and only when its actual
    # count — one agg over the already-persisted wins — is bounded;
    # past the cap, SMJ with the sides pinned. The shared
    # measured_strategy helper persists hot BEFORE the probe count: it
    # feeds the count AND the join below, and leaving it unpersisted
    # re-ran the count_distinct expand inside the join (+68%
    # end-to-end at 500k docs, measured round 6).
    strategy, hot, _ = measured_strategy(
        wins.groupBy("fp")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp"),
        "broadcast",
        "merge",
    )
    if strategy == "broadcast":
        cand = wins.join(F.broadcast(hot), "fp")
    else:
        cand = wins.join(hot.hint("merge"), "fp")
    # Exact verify: fetch each candidate's actual window substring and
    # re-run the distinct-doc count grouped by the SUBSTRING, not the
    # fingerprint. Re-grouping can only split a fingerprint's group, so
    # a colliding unique span drops below min_docs here and survives
    # removal. Volume: candidates only (duplication-bounded).
    sub = (
        cand.join(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")).hint("merge"),
            "id",
        )
        .select("id", "start", F.col("_t").substr(F.col("start"), F.lit(window)).alias("_w"))
    )
    hot_w = (
        sub.groupBy("_w")
        .agg(F.count_distinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("_w")
    )
    return sub.join(hot_w.hint("merge"), "_w").select(
        F.col("id").alias(id_col),
        "start",
        (F.col("start") + window - 1).alias("end"),
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 50,
    stride: int = 1,
    min_docs: int = 2,
    out_name: str | None = None,
) -> DataFrame:
    """Cut every corpus-repeated span (see :func:`repeated_spans`) out
    of each document — span-level removal, the surgical alternative to
    dropping whole near-dup docs (boilerplate headers, license blocks,
    quoted templates survive doc-level dedup because the REST of the
    doc is unique).

    With ``stride>1`` the winnowed detection reports the SELECTED
    windows inside a repeated span (guaranteed >= 1 per span of length
    >= window + stride - 1), so removal excises those windows, not
    necessarily the full span — use ``stride=1`` for exhaustive
    removal; ``stride>1`` is the tag-and-trim regime for long docs.

    Per doc: collect its repeated spans (bounded by len/stride),
    sort + merge overlaps with one array fold, then rebuild the text
    from the kept gaps with a second fold — both per-row HOFs, so the
    only exchanges are the fingerprint count and the spans-to-doc
    groupBy. ALL other columns of ``df`` ride through unchanged; docs
    with no repeated spans pass through byte-identical (left join +
    coalesce). ``df`` is consumed three times (span detection, the
    collision check that joins candidates back to the text, and the
    rebuild) — persist derived inputs first, per the multi-consumer
    convention.

    ``out_name`` defaults to ``text_col`` (rebuilt text replaces the
    original in place); naming it onto an existing OTHER column would
    silently produce duplicate column names, so that collision raises."""
    if out_name is None:
        out_name = text_col
    elif out_name != text_col and out_name in df.columns:
        raise ValueError(
            f"out_name {out_name!r} collides with a preserved column of df"
        )
    spans = (
        repeated_spans(df, id_col, text_col, window, stride, min_docs)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("start", "end"))).alias("_spans"))
    )
    # MERGE hint, never broadcast: the per-doc span relation scales with
    # DUPLICATION (worst case corpus-sized — a 100%-duplicated corpus
    # has a span array per doc), and its collect_list arrays make
    # Catalyst's size estimate unreliable — round-6 measurement caught
    # AQE broadcasting it at 500k docs and killing the driver. SMJ costs
    # nothing extra on this side: the groupBy just hash-partitioned
    # spans by id, exactly the join key.
    j = df.join(spans.hint("merge"), id_col, "left")
    # Fold 1 — merge sorted overlapping/adjacent spans.
    merged = F.aggregate(
        F.coalesce(F.col("_spans"), F.expr("CAST(array() AS ARRAY<STRUCT<start:INT,end:INT>>)")),
        F.expr("CAST(array() AS ARRAY<STRUCT<start:INT,end:INT>>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s["start"] <= F.element_at(acc, -1)["end"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["start"].alias("start"),
                        F.greatest(F.element_at(acc, -1)["end"], s["end"]).alias("end"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    # Fold 2 — concat the gaps around the merged spans, then the tail.
    t = F.col(text_col)
    rebuilt = F.aggregate(
        merged,
        F.struct(F.lit("").alias("out"), F.lit(1).alias("from")),
        lambda acc, s: F.struct(
            F.concat(
                acc["out"],
                F.substring(t, acc["from"], F.greatest(s["start"] - acc["from"], F.lit(0))),
            ).alias("out"),
            (s["end"] + 1).alias("from"),
        ),
        lambda acc: F.concat(acc["out"], F.substring(t, acc["from"], F.lit(2147483647))),
    )
    keep = [c for c in df.columns if c != text_col]
    return j.select(*keep, rebuilt.alias(out_name))
