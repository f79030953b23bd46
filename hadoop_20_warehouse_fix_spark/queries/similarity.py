"""Similarity-search queries (extension pack): exact cosine top-k and
the LSH-bucketed ANN variant over the embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import load_table
from hadoop_20_warehouse_fix_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from hadoop_20_warehouse_fix_spark.queries import query


_COSINE_TOPK_ORACLE = """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]))
               / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for query vectors (vec_id < 10):
    broadcast queries × one corpus pass, JVM-side double-fold dot
    product, per-query ranked window. The brute-force ANN baseline.

    CONTRACT: O(|queries| × |corpus|) by definition — the exactness
    reference the recall tests measure ANN variants against, NOT the
    serving path. At 100 TB use sim_ann_ivf_md5 / sim_ann_lsh (the
    benched headline is the IVF one for exactly this reason — round-2
    VERDICT item 4)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _lsh_oracle(n_planes: int = 4, dim: int = 64, seed: int = 42, k: int = 5) -> str:
    """DuckDB oracle for lsh_topk with the SEEDED hyperplanes inlined as
    literals: the bucket function is deterministic given (seed, dim), so
    the 'approximate' ANN result is exactly reproducible in SQL — the
    oracle replays bucket assignment (sequential-fold dot signs) and the
    within-bucket exact-cosine ranking."""
    from hadoop_20_warehouse_fix_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        return f"list_sum(list_transform(generate_series(1, {dim}), i -> v[i] * ({lit})[i]))"

    bucket = " + ".join(
        f"(CASE WHEN {dot(p)} > 0 THEN {1 << i} ELSE 0 END)" for i, p in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
                 {bucket} AS bucket
          FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i]))
               / (q.nrm * c.nrm) AS cos
      FROM n q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("sim_ann_lsh", oracle=_lsh_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH buckets (4 planes → 16 buckets,
    seeded, deterministic): equality-join on bucket, exact cosine inside.
    ~1/16 of the corpus scored per query — the sub-linear 100 TB path.
    'Approximate' means recall<1 vs brute force (asserted in
    tests/test_similarity.py), NOT nondeterminism: given the seed the
    result is exact, so the oracle replays the planes as SQL literals
    and must agree value-for-value."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=4, dim=64)


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF-Flat cells (16-centroid deterministic codebook,
    nprobe=4): corpus assigned to nearest-centroid inverted lists, each
    query probes its 4 nearest cells — ~1/4 of the corpus scored per
    query. Approximate by construction (k-means codebook → no
    cross-engine oracle), so this operator is pytest-covered (recall vs
    brute force in tests/test_similarity.py) rather than
    driver-registered; the md5-codebook sibling ``sim_ann_ivf_md5``
    carries the exact-replay oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_centroids=16, nprobe=4)


@query(
    "emb_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e)
    SELECT vec_id,
           round(amax / 127.0, 9) AS scale,
           array_to_string(
             list_transform(v, x -> CAST(CASE WHEN amax = 0 THEN 0
                                              ELSE round(x / (amax / 127.0)) END AS BIGINT)),
             ',') AS codes_fp
    FROM m
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x storage cut, the
    ANN-serving prep step) under a FULL oracle gate: per-vector scale
    and every quantized code replayed in SQL. Row-local arithmetic —
    zero shuffles at any scale; codes ride as array<tinyint> (emitted
    here as a canonicalizable fingerprint string — same reason as
    mm_feature_vectors)."""
    from hadoop_20_warehouse_fix_spark.functions.embeddings import quantize_int8

    q = quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("long").cast("string"))
        ).alias("codes_fp"),
    )


@query(
    "emb_normalize",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
    SELECT vec_id,
           round(nrm, 6) AS norm,
           array_to_string(
             list_transform(v, x -> CAST(round(x / nrm * 1000000) AS BIGINT)),
             ',') AS unit_fp
    FROM n WHERE nrm <> 0
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalization of the embedding column (the pre-ANN/pre-dedup
    canonical form): sequential-fold norm (cross-engine bit-stable) and
    each unit component verified to 1e-6 via an integer-scaled
    fingerprint (integers stringify identically across engines; raw
    double-to-string formatting does not)."""
    from hadoop_20_warehouse_fix_spark.functions.embeddings import (
        unit_from_norm,
        with_l2_norm,
    )

    # Projection barrier: the norm fold materializes ONCE per row, then
    # the unit transform references the bound column — the inline
    # normalize_embedding form re-runs the d-element fold per element
    # (O(d^2) per row; measured 3.7x end-to-end at sf0.1, SCALING.md round 4).
    emb = with_l2_norm(load_table(spark, sf_dir, "embeddings"))
    unit = emb.select(
        "vec_id",
        F.round(F.col("nrm"), 6).alias("norm"),
        unit_from_norm(F.col("embedding"), F.col("nrm")).alias("u"),
    ).where(F.col("u").isNotNull())
    return unit.select(
        "vec_id",
        "norm",
        F.concat_ws(
            ",",
            F.transform("u", lambda x: F.round(x * 1000000).cast("long").cast("string")),
        ).alias("unit_fp"),
    )


_IVF_MD5_ORACLE = """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM n
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    centsu AS (
      SELECT cid,
             list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cu
      FROM cents
    ),
    dots AS (
      SELECT n.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * c.cu[i])) AS d
      FROM n CROSS JOIN centsu c
    ),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots WHERE vec_id < 10
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(qn.v)),
                                     i -> qn.v[i] * cn.v[i])) / (qn.nrm * cn.nrm) AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
      JOIN n qn ON qn.vec_id = p.vec_id
      JOIN n cn ON cn.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim_ann_ivf_md5", headline=True, oracle=_IVF_MD5_ORACLE)
def sim_ann_ivf_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN with a REPRODUCIBLE codebook: the 16 centroids are
    the corpus vectors with smallest md5(vec_id) — an engine-agnostic
    coin — so codebook selection, unit-normalization, argmax cell
    assignment, 4-cell probing, and within-cell ranking are ALL replayed
    by the DuckDB oracle value-for-value. The reproducible-ANN contract:
    any engine with md5 derives the identical index and answers.
    (sim_ann_ivf keeps the k-means codebook — better cells,
    pytest-only since its estimates are engine-specific.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=4,
        codebook="sample_md5",
    )


_IVF_STATE_LIFECYCLE_ORACLE = """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n0 AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
    -- codebook picked at WRITE time from the BASE slice only (appends
    -- reuse the stored codebook; deletes never touch centroids)
    cents AS (
      SELECT vec_id AS cid, v AS cv FROM n0
      WHERE vec_id % 5 NOT IN (0, 1)
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    centsu AS (
      SELECT cid,
             list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS cu
      FROM cents
    ),
    -- searchable corpus AFTER the lifecycle: base + appended - deleted
    n AS (
      SELECT * FROM n0
      WHERE vec_id % 5 <> 0 AND vec_id % 7 <> 3
    ),
    dots AS (
      SELECT n.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, len(n.v)), i -> n.v[i] * c.cu[i])) AS d
      FROM n CROSS JOIN centsu c
    ),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM dots
      ) WHERE rn = 1
    ),
    qdots AS (
      SELECT q.vec_id, c.cid,
             list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.cu[i])) AS d
      FROM n0 q CROSS JOIN centsu c
      WHERE q.vec_id % 5 = 0 AND q.vec_id < 50
    ),
    probes AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) AS rn
        FROM qdots
      ) WHERE rn <= 4
    ),
    scored AS (
      SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             list_sum(list_transform(generate_series(1, len(qn.v)),
                                     i -> qn.v[i] * cn.v[i])) / (qn.nrm * cn.nrm) AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
      JOIN n0 qn ON qn.vec_id = p.vec_id
      JOIN n cn ON cn.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("sim_state_lifecycle_probe", oracle=_IVF_STATE_LIFECYCLE_ORACLE)
def sim_state_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-ANN-state lifecycle (round-13, the IVF twin
    of ``dedup_state_incremental_probe`` — previously pytest-only),
    oracle-gated end to end:

    1. ``ivf_state_write``   — base corpus (vec_id % 5 in 2,3,4) into
       bucketed inverted-list tables, md5-deterministic codebook;
    2. ``ivf_state_append``  — an ingest batch (% 5 == 1) assigned with
       the STORED codebook, bucket-aligned append, no index rebuild;
    3. ``ivf_state_delete``  — tombstone takedowns (% 7 == 3);
    4. ``ivf_state_compact`` — per-bucket rewrite applying tombstones
       physically;
    5. ``ivf_state_probe``   — serve a query batch (% 5 == 0, id < 50):
       top-5 exact cosines over the 4 probed cells. The batch sits far
       below ``IVF_SCORER_CROSSOVER_STEPS``, so the probe picks the
       JVM fold itself.

    The DuckDB oracle replays the ENTIRE construction value-for-value:
    md5 codebook selection over the base slice, argmax cell assignment
    of base ∪ appended minus deleted, 4-cell probing, within-cell
    ranking. Reference analog: MapFile/BloomMapFile persisted
    probe-able state with rewrite-on-update
    (``/root/reference/src/core/org/apache/hadoop/io/MapFile.java:521``).

    100 TB physics: the corpus is touched once at write; appends cost
    O(batch); probes read ~nprobe/K of the index with IN-pushdown
    bucket pruning; compaction is the only rewrite and is per-bucket."""
    import tempfile

    from hadoop_20_warehouse_fix_spark.operators.similarity import (
        ivf_state_append,
        ivf_state_compact,
        ivf_state_delete,
        ivf_state_probe,
        ivf_state_write,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    mod5 = F.col("vec_id") % 5
    base = emb.filter(~mod5.isin(0, 1))
    ingest = emb.filter(mod5 == 1)
    queries_df = emb.filter((mod5 == 0) & (F.col("vec_id") < 50))
    state = "q_ivf_lifecycle_state"
    ivf_state_write(
        base, "vec_id", "embedding", state,
        n_centroids=16, codebook="sample_md5",
        path=tempfile.mkdtemp(prefix="q_ivf_lifecycle_"),
    )
    ivf_state_append(ingest, "vec_id", "embedding", state)
    ivf_state_delete(
        spark, state,
        emb.filter((mod5 != 0) & (F.col("vec_id") % 7 == 3))
           .select(F.col("vec_id").alias("id")),
    )
    ivf_state_compact(spark, state)
    return ivf_state_probe(
        queries_df, "vec_id", "embedding", state, k=5, nprobe=4
    )
