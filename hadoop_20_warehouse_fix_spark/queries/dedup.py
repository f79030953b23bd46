"""Deduplication queries (extension pack) over the documents and
embeddings tables. Exact and n-gram-Jaccard variants are oracle-checked
value-for-value; MinHash-LSH and SimHash are approximate-by-design
(rows-only gate here, recall/precision asserted against the exact
variants in tests/test_dedup.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_20_warehouse_fix_spark.catalog import fan_out_small_scan, load_table
from hadoop_20_warehouse_fix_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from hadoop_20_warehouse_fix_spark.operators.similarity import embedding_cosine_pairs
from hadoop_20_warehouse_fix_spark.queries import query

# Shared CTE: word-3-gram shingle sets per document (mirrors
# operators.dedup.word_shingles tokenization exactly).
_SHINGLE_CTE = """
    WITH docs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS sh
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
            FROM documents)
    )
"""


@query(
    "dedup_exact",
    oracle="""
    SELECT fingerprint, min(doc_id) AS doc_id
    FROM (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
          FROM documents)
    GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-of-normalized-text fingerprint, keep min doc_id
    per group — identity-map + first-value reduce (SURVEY §2.7) with a
    deterministic winner. Shuffle bounded by distinct fingerprints."""
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_NGRAM_PAIRS_ORACLE = (
    _SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """
)


@query(
    "dedup_ngram_jaccard",
    headline=True,
    oracle=_NGRAM_PAIRS_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs: word-3-gram Jaccard >= 0.5 via
    inverted-index blocking (only pairs sharing a shingle are scored —
    lossless, since Jaccard > 0 ⇒ shared shingle). The oracle computes
    naive all-pairs; identical results prove the blocking is lossless."""
    return ngram_jaccard_pairs(
        fan_out_small_scan(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", n=3, threshold=0.5,
    )


@query("dedup_minhash_lsh", oracle=_NGRAM_PAIRS_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (60 perms) + LSH banding (20×3) + exact-Jaccard verify —
    the 100 TB near-dup path (fixed-size signatures, equality-join
    candidates, no all-pairs). Precision is 1.0 by construction (exact
    verify); recall is the banding S-curve — and this corpus's near-dup
    pairs are well separated from the 0.5 threshold (measured min
    matched Jaccard 0.9 at sf0.01 / 0.8 at sf0.1, where the per-pair
    miss probability is <= (1-0.8^3)^20 ≈ 6e-7), so the seeded
    (deterministic) banding finds every pair and the EXACT all-pairs
    oracle holds — verified value-identical at both SFs. On a corpus
    with pairs hugging the threshold, drop back to the exact
    dedup_ngram_jaccard or accept S-curve recall."""
    return minhash_lsh_pairs(
        fan_out_small_scan(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", n=3, num_hashes=60, bands=20, threshold=0.5,
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB oracle replaying the md5-based SimHash bit-for-bit: hex
    chunks parsed with exact double arithmetic (< 2^53), per-bit sign
    sums over unnested tokens, band packing, pigeonhole blocking, and
    the Hamming verify via xor+bit_count."""
    hexv = lambda a, b: (  # noqa: E731 — hex substring [a..b) of md5(w) as a number
        "list_sum(list_transform(generate_series(%d, %d), "
        "i -> (strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1) "
        "* power(16, %d - i)))" % (a, b - 1, b - 1)
    )
    lo, hi = hexv(1, 9), hexv(9, 17)
    bit_sums = ",\n           ".join(
        "sum(CASE WHEN floor({src} / power(2, {k})) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}".format(
            src="lo" if b < 32 else "hi", k=b % 32, b=b
        )
        for b in range(64)
    )
    bands = ",\n           ".join(
        " + ".join(
            f"(CASE WHEN b{band * 16 + i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
        )
        + f" AS band{band}"
        for band in range(4)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        w -> w <> '')) AS w
      FROM documents
    ), h AS (
      SELECT doc_id, {lo} AS lo, {hi} AS hi FROM tok
    ), sums AS (
      SELECT doc_id,
           {bit_sums}
      FROM h GROUP BY doc_id
    ), bands AS (
      SELECT doc_id,
           {bands}
      FROM sums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
              + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) AS INT)
             AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
      AND bit_count(xor(a.band0, b.band0)) + bit_count(xor(a.band1, b.band1))
        + bit_count(xor(a.band2, b.band2)) + bit_count(xor(a.band3, b.band3)) <= {max_hamming}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs (Hamming <= 3) with pigeonhole band
    blocking — exact w.r.t. SimHash semantics (the 4-band equality join
    covers all Hamming<=3 pairs by pigeonhole; the band-blocking oracle
    is also the exact all-pairs answer for the same reason). The
    fingerprint uses md5-derived token hashes (engine-agnostic), so the
    DuckDB oracle replays the ENTIRE construction bit-for-bit — the
    reproducible-fingerprint contract a multi-engine warehouse needs.
    Invariants additionally tested in tests/test_dedup.py."""
    return simhash_pairs(
        fan_out_small_scan(load_table(spark, sf_dir, "documents")),
        "doc_id", "text", max_hamming=3,
    )


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE words_t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
    ), docs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS sh
      FROM words_t
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    )
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: near-dup pairs (exact 3-gram
    Jaccard >= 0.5) -> connected components -> every doc labeled with
    its cluster's min doc_id (singletons label themselves). The step a
    training-data pipeline runs after pair generation: keep one canonical
    doc per cluster, drop the rest — transitively, not just pairwise
    (A~B, B~C puts A and C in one cluster even if A!~C).

    Iterative DataFrame algorithm (see operators.dedup.
    connected_components) under a FULL oracle gate: the DuckDB recursive
    CTE computes the transitive closure and must agree on every label."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import connected_components

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    cc = connected_components(pairs).withColumnRenamed("id", "doc_id")
    return (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).cast("bigint").alias("cluster_id"),
        )
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
          / (a.nrm * b.nrm) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.4, EXACT, via the blocked
    GEMM plan (see operators.similarity.blocked_cosine_pairs): equality
    join + explode replication into G block pairs, one numpy matmul per
    pair group — no cartesian / BNLJ anywhere in the plan (asserted in
    tests/test_plans.py). Lossless candidate generation is impossible on
    this corpus (matched cosines hug the threshold; measured zero
    cell-pruning), so the exact path owns its n^2 compute and spreads it
    over G(G+1)/2 BLAS tasks instead of one nested loop."""
    from hadoop_20_warehouse_fix_spark.operators.similarity import blocked_cosine_pairs

    return blocked_cosine_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


@query(
    "dedup_incremental_cross",
    oracle=_SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < 400 AND b.doc_id >= 400
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def dedup_incremental_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an incoming batch (doc_id >= 400)
    checked against the existing corpus (doc_id < 400) — cross pairs
    only, never corpus×corpus. Oracle computes the naive cross product;
    identical results prove the side-tagged posting-list blocking is
    lossless."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import ngram_jaccard_pairs_cross

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    return ngram_jaccard_pairs_cross(new, corpus, "doc_id", "text", n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Line-level corpus cleaning under the oracle gate. The testdata documents
# are single-line, so each query first builds a deterministic MULTI-LINE
# corpus from them (groups of 5 docs joined by newlines, the lead doc's
# text repeated, a constant footer on every page) — the same construction
# replayed in the DuckDB oracle, so the line ops are checked value-for-value
# on text that actually exercises them (round-2 VERDICT item 8).
# ---------------------------------------------------------------------------

_PAGES_CTE = """
    WITH pages AS (
      SELECT doc_id // 5 AS gid,
             arg_min(text, doc_id) || chr(10) ||
             string_agg(text, chr(10) ORDER BY doc_id) || chr(10) ||
             '-- footer --' AS page
      FROM documents GROUP BY 1
    ),
    lines AS (
      SELECT gid, unnest(ls) AS line, unnest(range(1, len(ls) + 1)) AS pos
      FROM (SELECT gid, string_split(page, chr(10)) AS ls FROM pages)
    )
"""


def _multiline_pages(docs: DataFrame) -> DataFrame:
    """5-doc pages with an intra-page duplicate (lead line repeated) and
    cross-page boilerplate (constant footer). One groupBy — the fixture
    builder shuffles once; the ops under test add their own physics."""
    g = docs.select(F.expr("doc_id div 5").alias("gid"), "doc_id", "text")
    agg = g.groupBy("gid").agg(
        F.min_by("text", "doc_id").alias("lead"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s.getField("text"),
            ),
            "\n",
        ).alias("body"),
    )
    return agg.select(
        "gid", F.concat_ws("\n", "lead", "body", F.lit("-- footer --")).alias("page")
    )


@query(
    "dedup_lines_in_doc",
    oracle=_PAGES_CTE
    + """
    SELECT gid, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM (SELECT gid, line, pos,
                 row_number() OVER (PARTITION BY gid, line ORDER BY pos) AS rn
          FROM lines)
    WHERE rn = 1
    GROUP BY gid
    """,
)
def dedup_lines_in_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document line dedup (first occurrence wins, order kept) —
    the CCNet/Dolma-style repetition cleanup. The operator is one
    higher-order aggregate per row (operators/dedup.py:
    dedup_lines_within_doc): NO explode, NO shuffle beyond the fixture
    build — a scan-fused projection at any corpus scale."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import dedup_lines_within_doc

    pages = _multiline_pages(load_table(spark, sf_dir, "documents"))
    return dedup_lines_within_doc(pages, "gid", "page", out_name="text")


@query(
    "corpus_remove_boilerplate",
    oracle=_PAGES_CTE
    + """
    SELECT gid, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM lines
    WHERE line NOT IN (
        SELECT line FROM (
            SELECT line, count(DISTINCT gid) AS d FROM lines GROUP BY line
        ) WHERE d >= 3)
    GROUP BY gid
    """,
)
def corpus_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal: lines appearing in >= 3
    distinct pages (the injected footer, plus any naturally duplicated
    document bodies) are dropped from every page, order preserved.
    Physical form (operators/dedup.py: remove_boilerplate_lines):
    line-DF aggregation over distinct (page, line) rows — bounded by
    line vocabulary, not corpus size — then a broadcast set + scan-fused
    array filter; past the operator's boilerplate-line cap it switches
    itself to an anti-join on exploded lines. Pages left empty (all lines boilerplate) are dropped on both
    sides."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import remove_boilerplate_lines

    pages = _multiline_pages(load_table(spark, sf_dir, "documents"))
    out = remove_boilerplate_lines(pages, "gid", "page", min_docs=3, out_name="text")
    return out.filter(F.length("text") > 0)


@query(
    "dedup_minhash_survivors",
    oracle="""
    WITH RECURSIVE words_t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS words
      FROM documents
    ), docs AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(words) - 2, 0)),
               i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS sh
      FROM words_t
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM docs a JOIN docs b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) * 1.0
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    )
    SELECT id AS doc_id FROM reach GROUP BY id HAVING min(r) = id
    """,
)
def dedup_minhash_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-free dedup: the surviving (canonical, min-id-per-component)
    docs computed from minhash band-bucket STAR edges + connected
    components — linear in corpus size AND duplication factor, measured
    in SCALING.md on a corpus whose pairwise form is untractable by
    construction. The oracle recomputes survivors from the EXACT
    Jaccard >= 0.5 pair graph's transitive closure: agreement holds
    because (a) banding at 60 hashes / 20 bands misses j >= 0.5 pairs
    with probability <= 6e-7 on this corpus's similarity gap (same
    argument as dedup_minhash_lsh) and (b) false-positive bucket
    collisions below the S-curve threshold need a full 3-row band
    match (measured zero here)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import dedup_minhash_survivors

    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    return dedup_minhash_survivors(docs, "doc_id", "text").select("doc_id")


_STATE_LIFECYCLE_ORACLE = (
    _SHINGLE_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh)) * 1.0
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM docs a JOIN docs b
      ON a.doc_id % 5 <> 0          -- corpus side: base (2,3,4) + appended (1)
     AND a.doc_id % 7 <> 3          -- minus the tombstoned takedowns
     AND b.doc_id % 5 = 0           -- probe side: the new ingest batch
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """
)


@query("dedup_state_incremental_probe", oracle=_STATE_LIFECYCLE_ORACLE)
def dedup_state_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted-dedup-state lifecycle (round-13 brief #3 —
    previously pytest-only), oracle-gated end to end:

    1. ``minhash_state_write``  — base corpus (doc_id % 5 in 2,3,4) into
       bucketed band/shingle state tables;
    2. ``minhash_state_append`` — fold an ingest batch (% 5 == 1) in,
       appending bucket-aligned files, no state rewrite;
    3. ``minhash_state_delete`` — tombstone takedowns (% 7 == 3);
    4. ``minhash_state_compact`` — one-pass rewrite per table applying
       tombstones physically, one file per bucket;
    5. ``minhash_lsh_pairs_incremental`` — probe a NEW batch (% 5 == 0)
       against the state: every cross near-dup pair at Jaccard >= 0.5.

    The oracle replays the exact word-3-gram Jaccard over base ∪
    appended minus deleted, restricted to cross pairs — the same
    exact-all-pairs justification as ``dedup_minhash_lsh`` (this
    corpus's pairs sit far from the 0.5 threshold, so seeded 20×3
    banding has measured recall 1.0; verify is exact). Reference
    analog: BloomMapFile/MapFile as probe-able persisted state with
    rewrite-on-update discipline
    (``/root/reference/src/core/org/apache/hadoop/io/BloomMapFile.java:45``,
    ``MapFile.java:521``).

    100 TB physics: per-ingest cost is O(batch + collision
    neighborhood); the corpus-side band/shingle tables are read
    bucket-aligned, never shuffled, never rescanned."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_state_append,
        minhash_state_compact,
        minhash_state_delete,
        minhash_state_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    mod5 = F.col("doc_id") % 5
    base = fan_out_small_scan(docs.filter(~mod5.isin(0, 1)))
    ingest = fan_out_small_scan(docs.filter(mod5 == 1))
    probe = fan_out_small_scan(docs.filter(mod5 == 0))
    import tempfile

    state = "q_dedup_lifecycle_state"
    # external location (fresh per run): a MANAGED overwrite refuses a
    # stale warehouse dir left by a previous session's run of this query
    minhash_state_write(
        base, "doc_id", "text", state,
        path=tempfile.mkdtemp(prefix="q_dedup_lifecycle_"),
    )
    minhash_state_append(ingest, "doc_id", "text", state)
    minhash_state_delete(
        spark, state,
        docs.filter((mod5 != 0) & (F.col("doc_id") % 7 == 3))
            .select(F.col("doc_id").alias("id")),
    )
    minhash_state_compact(spark, state)
    return minhash_lsh_pairs_incremental(probe, "doc_id", "text", state, threshold=0.5)


def _synthetic_dhash_media(docs: DataFrame, mod: int = 40) -> DataFrame:
    """Deterministic synthetic media for the media-state oracle gate
    (round 14, brief #4): one lossless 8x9 PNG per document whose pixel
    grid comes straight from md5 nibbles of the doc's CONTENT KEY
    ``doc_id % mod`` — pixel (y, x) = 10 + 14 * nibble_x(md5(f"{ck}:{y}"))
    on all three channels. Because the image is exactly the 8x9 grid
    ``dhash_pixels`` samples (nearest-neighbor indices become the
    identity) and PNG decode is bit-exact, the engine's REAL pipeline
    (encode → decode → grayscale → dHash) lands on a fingerprint whose
    bit (y, x) is simply nibble(y,x) > nibble(y,x+1) — a pure function
    of md5 hex digits that DuckDB replays with strpos/substr math.
    Documents sharing a content key share a fingerprint (hamming 0
    near-dups); distinct keys sit ~32 bits apart. The math shortcut
    lives ONLY in the oracle: the query under test decodes real PNG
    bytes through the real fingerprint operators."""
    import hashlib

    import numpy as np
    import pandas as pd

    from hadoop_20_warehouse_fix_spark.functions.multimodal import encode_png

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                ck = int(did) % mod
                arr = np.zeros((8, 9, 3), dtype=np.uint8)
                for y in range(8):
                    h = hashlib.md5(f"{ck}:{y}".encode()).hexdigest()
                    for x in range(9):
                        arr[y, x, :] = 10 + 14 * int(h[x], 16)
                payloads.append(encode_png(arr))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return docs.select("doc_id").mapInPandas(gen, "media_id long, payload binary")


_MEDIA_STATE_ORACLE = """
    WITH ids AS (SELECT doc_id, doc_id % 40 AS ck FROM documents),
    survivors AS (
      SELECT doc_id, ck FROM ids
      WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3
    ),
    probe AS (SELECT doc_id, ck FROM ids WHERE doc_id % 5 = 0),
    cks AS (SELECT DISTINCT ck FROM ids),
    nib AS (
      SELECT ck, y.y AS y, x.x AS x,
             strpos('0123456789abcdef',
                    substr(md5(CAST(ck AS VARCHAR) || ':' || CAST(y.y AS VARCHAR)),
                           CAST(x.x AS INTEGER) + 1, 1)) - 1 AS v
      FROM cks, range(8) y(y), range(9) x(x)
    ),
    bits AS (
      SELECT a.ck, a.y, a.x, (a.v > b.v) AS bit
      FROM nib a JOIN nib b ON a.ck = b.ck AND a.y = b.y AND b.x = a.x + 1
      WHERE a.x < 8
    ),
    ham AS (
      SELECT p.ck AS ck_a, q.ck AS ck_b,
             SUM(CASE WHEN p.bit <> q.bit THEN 1 ELSE 0 END) AS h
      FROM bits p JOIN bits q ON p.y = q.y AND p.x = q.x
      GROUP BY p.ck, q.ck
    )
    SELECT s.doc_id AS id_a, r.doc_id AS id_b, CAST(ham.h AS INTEGER) AS hamming
    FROM survivors s
    JOIN ham ON ham.ck_a = s.ck
    JOIN probe r ON ham.ck_b = r.ck
    WHERE ham.h <= 3
"""


@query("media_state_lifecycle_probe", oracle=_MEDIA_STATE_ORACLE)
def media_state_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL persisted MEDIA fingerprint-state lifecycle (round-14
    brief #4 — the last state surface with pytest-only evidence),
    oracle-gated end to end, mirroring ``dedup_state_incremental_probe``:

    1. ``media_state_write``   — base corpus (doc_id % 5 in 2,3,4) of
       synthetic lossless PNGs, decoded and dHashed by the REAL image
       pipeline into the bucketed band state;
    2. ``media_state_append``  — fold an ingest batch (% 5 == 1) in;
    3. ``media_state_delete``  — tombstone takedowns (% 7 == 3);
    4. ``media_state_compact`` — physical tombstone application;
    5. ``media_state_probe``   — a NEW batch (% 5 == 0) against the
       state: every cross pair within Hamming 3 (banded, pigeonhole-
       exact at this threshold).

    The payloads are 8x9 md5-nibble PNG grids (:func:`_synthetic_dhash_media`),
    so the oracle replays the EXACT dHash bit math — nibble(y,x) >
    nibble(y,x+1) from DuckDB's own md5() — over base ∪ appended minus
    deleted, restricted to cross pairs, value-for-value including the
    hamming distances. Reference analog: BloomMapFile/MapFile as
    probe-able persisted state
    (``/root/reference/src/core/org/apache/hadoop/io/BloomMapFile.java:45``).

    100 TB physics: probe cost is O(batch bands + band-collision
    neighborhood); the corpus is never re-decoded — the state table IS
    the corpus's fingerprint memory."""
    import tempfile

    from hadoop_20_warehouse_fix_spark.operators.dedup import (
        media_state_append,
        media_state_compact,
        media_state_delete,
        media_state_probe,
        media_state_write,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mod5 = F.col("doc_id") % 5
    base = _synthetic_dhash_media(fan_out_small_scan(docs.filter(mod5.isin(2, 3, 4))))
    ingest = _synthetic_dhash_media(fan_out_small_scan(docs.filter(mod5 == 1)))
    probe = _synthetic_dhash_media(fan_out_small_scan(docs.filter(mod5 == 0)))
    state = "q_media_lifecycle_state"
    media_state_write(
        base, state, num_buckets=4,
        path=tempfile.mkdtemp(prefix="q_media_lifecycle_"),
    )
    media_state_append(ingest, state)
    media_state_delete(
        spark, state,
        docs.filter((mod5 != 0) & (F.col("doc_id") % 7 == 3))
            .select(F.col("doc_id").alias("id")),
    )
    media_state_compact(spark, state)
    return media_state_probe(probe, state, 3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )
