"""Similarity search over embedding columns (``array<float>``) — the
ANN extension pack (BASELINE.json).

Two tiers:
- ``brute_force_topk``: exact cosine top-k. The dot product is a
  JVM-side ``zip_with`` + ``aggregate`` fold in double precision — no
  Python, no UDF. Quadratic; correct baseline at any SF where
  |queries| × |corpus| fits the cluster.
- ``lsh_topk``: random-hyperplane LSH (Charikar SimHash for cosine):
  bucket vectors by the sign pattern of dot products with fixed seeded
  hyperplanes, search only within the query's bucket (+ optional
  multi-probe by Hamming-adjacent buckets). Sub-linear candidate set —
  the 100 TB path. Recall is probabilistic (tested against brute force).

- ``ivf_topk``: IVF (inverted-file) coarse quantization — a
  deterministic centroid sample plays the role of the k-means
  codebook (one pass, no iterative fit); vectors are assigned to their
  nearest centroid's posting list and queries probe the ``nprobe``
  nearest lists. Same physics as FAISS-style IVF-Flat, expressed as a
  bucket equality join. The md5-codebook variant is fully
  deterministic and oracle-gated value-for-value (the benched
  ``sim_ann_ivf_md5`` headline); the k-means-codebook variant is
  engine-specific and pytest-gated for recall against brute force.
"""

from __future__ import annotations

from collections import namedtuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic,
    bit-stable across engines that fold left-to-right)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """NULL for zero-norm vectors (ANSI division would throw; NULL sorts
    last under desc ranking, so degenerate vectors never place in
    top-k)."""
    denom = norm_a * norm_b
    return F.when(denom != 0, dot(a, b) / denom)


def with_norm(df: DataFrame, vec_col: str, out: str = "nrm") -> DataFrame:
    """Precompute norms once — never inside the pair loop."""
    return df.withColumn(out, l2_norm(F.col(vec_col)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Output: (query_id, neighbor_id, cosine, rank).

    Scale: corpus side streams (one pass, no shuffle of vectors); the
    per-query top-k is a window over query_id — at huge |queries| swap
    the window for a per-partition heap aggregation."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    q = with_norm(q, "qv", "qn")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    c = with_norm(c, "cv", "cn")
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (public NumPy RNG, fixed seed)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def bucket_id(vec: Column, planes: list[list[float]], vec_sql: str | None = None) -> Column:
    """Sign-pattern bucket: bit p set iff dot(vec, plane_p) > 0.

    When ``vec_sql`` (the vector column's SQL name) is given, the whole
    bucket expression is built as ONE SQL string — same py4j/parse
    economics as ivf_topk's dist_entries_sql (n_planes*dim F.lit calls
    otherwise), with the identical left-to-right double fold."""
    if vec_sql is not None:
        parts = []
        for p, plane in enumerate(planes):
            vals = ", ".join(f"{float(x)!r}D" for x in plane)
            parts.append(
                "(CASE WHEN aggregate(zip_with("
                f"{vec_sql}, array({vals}), (x, y) -> CAST(x AS DOUBLE) * y), "
                f"0.0D, (a, v) -> a + v) > 0 THEN {1 << p}L ELSE 0L END)"
            )
        return F.expr("(" + " + ".join(parts) + ")")
    acc = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        acc = acc + F.when(dot(vec, plane_col) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Bucketed ANN: equality-join on the hyperplane sign bucket, exact
    cosine + top-k within the bucket. With n_planes=4 → 16 buckets, the
    candidate set is ~1/16 of the corpus per query. Fewer planes = higher
    recall, more candidates; tune per corpus density.

    Output schema matches brute_force_topk (rank within candidates)."""
    # Fail loudly on a dim mismatch: zip_with pads the shorter side with
    # NULLs, every hyperplane dot goes NULL, every sign CASE yields 0 —
    # ALL vectors silently collapse into bucket 0 and the "sub-linear
    # candidate set" degenerates to all-pairs with no error. One-row
    # probe (LIMIT 1 scan) — cheap next to the search itself.
    probe = (
        corpus.select(F.size(F.col(vec_col)).alias("d"))
        .where(F.col("d") >= 0)
        .first()
    )
    if probe is not None and probe.d != dim:
        raise ValueError(
            f"lsh_topk: dim={dim} but corpus embeddings have length {probe.d} — "
            "a mismatch buckets every vector into bucket 0 (full all-pairs scan)"
        )
    planes = hyperplanes(dim, n_planes, seed)
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), "qv", "qn"
    ).withColumn("bucket", bucket_id(F.col("qv"), planes, vec_sql="qv"))
    c = with_norm(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")), "cv", "cn"
    ).withColumn("bucket", bucket_id(F.col("cv"), planes, vec_sql="cv"))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _codebook_matrix(cents: list[tuple[int, list[float]]]):
    """(cid_order, K x dim float64 matrix), rows sorted by cid so
    numpy's first-max / stable-argsort tie policy reproduces the SQL
    assignment form's (d DESC, cid ASC) ordering."""
    by_cid = sorted((int(c), [float(x) for x in v]) for c, v in cents)
    return [c for c, _ in by_cid], np.array([v for _, v in by_cid], dtype=np.float64)


def _stack_valid(vs: pd.Series, dim: int):
    """A NULL or wrong-length embedding must degrade to a NULL output
    row, not crash the whole Arrow batch (the SQL fold path NULLs per
    row; the fast paths must match). Invalid rows score against a zero
    vector and are masked after."""
    arrs = list(vs)
    valid = np.fromiter(
        (a is not None and len(a) == dim for a in arrs), dtype=bool, count=len(arrs)
    )
    m = np.zeros((len(arrs), dim), dtype=np.float64)
    for i in np.flatnonzero(valid):
        m[i] = arrs[i]
    return m, valid


def assign_cell_udf(cents: list[tuple[int, list[float]]]):
    """Arrow-batched nearest-centroid assignment (one numpy matmul per
    batch) — the 100 TB corpus-pass form, shared by ``ivf_topk``'s
    vectorized branch and the persisted-state write/append. Cell ids
    ARE corpus ids (bigint): an int32 return type overflows the Arrow
    conversion once ids exceed 2^31 (hit at the 1M-corpus measurement,
    SCALING.md round 4)."""
    from pyspark.sql.functions import pandas_udf

    cid_order, cmat = _codebook_matrix(cents)
    dim = cmat.shape[1]

    @pandas_udf("bigint")
    def assign_cell(vs: pd.Series) -> pd.Series:
        v, valid = _stack_valid(vs, dim)
        idx = np.argmax(v @ cmat.T, axis=1)
        return pd.Series(
            pd.array([cid_order[i] if ok else None for i, ok in zip(idx, valid)], dtype="Int64")
        )

    return assign_cell


def probe_cells_udf(cents: list[tuple[int, list[float]]], nprobe: int):
    """Arrow-batched nprobe-nearest-cells per query vector."""
    from pyspark.sql.functions import pandas_udf

    cid_order, cmat = _codebook_matrix(cents)
    dim = cmat.shape[1]

    @pandas_udf("array<bigint>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        v, valid = _stack_valid(vs, dim)
        order = np.argsort(-(v @ cmat.T), axis=1, kind="stable")[:, :nprobe]
        return pd.Series(
            [[cid_order[i] for i in row] if ok else None for row, ok in zip(order, valid)]
        )

    return probe_cells


def pair_cosine_udf(dim: int):
    """Arrow-batched row-wise cosine over candidate pairs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine(qs: pd.Series, cs: pd.Series, qn: pd.Series, cn: pd.Series) -> pd.Series:
        qm, qok = _stack_valid(qs, dim)
        cm, cok = _stack_valid(cs, dim)
        denom = qn.astype("float64").to_numpy() * cn.astype("float64").to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.einsum("ij,ij->i", qm, cm) / denom
        # True NULL (not NaN) for zero-norm, NULL, or ragged pairs:
        # NaN sorts ABOVE every real double in Spark's DESC order
        # and would rank degenerate vectors first; NULL sorts last,
        # matching the JVM cosine()'s F.when guard.
        bad = ~qok | ~cok | ~np.isfinite(denom) | (denom == 0)
        return pd.Series(pd.array(out, dtype="Float64")).mask(bad)

    return pair_cosine


_GemmQRow = namedtuple("_GemmQRow", "query_id cell qv qn")


#: Soft cap on the bytes of per-query state a single _gemm_pool_frame
#: task closure may carry (round-11 brief #4): at 1000 queries the PQ
#: ADC tables are ~16 MB — fine — but nothing stopped a 100k-query
#: batch from closing ~1.6 GB over every task. Past the budget the
#: batch auto-chunks: each chunk scans only its own probed cells and
#: the caller's window cut merges the per-chunk partial pools exactly
#: (they are already per-batch partial pools in the global tie order).
GEMM_CLOSURE_BUDGET_BYTES = 64 << 20


def _gemm_closure_chunks(q_rows, dim: int, kind: str, pq, budget: int):
    """Estimate the task-closure bytes of a gemm batch and, when over
    ``budget``, greedily pack DISTINCT query ids into chunks that each
    fit. Returns ``(est_bytes, chunks)`` where ``chunks`` is None when
    no split is needed, else a list of q_rows subsets (a single
    over-budget query still runs alone — the bound is per-chunk best
    effort, never a correctness gate)."""
    if kind == "pq":
        m_sub, k_codes, _sub = pq[0].shape
        per_query = m_sub * k_codes * 8  # one ADC table per distinct query
        per_row = 32  # qid + qn + coarse term + lut index
    else:
        per_query = 0
        per_row = dim * 8 + 24  # qv row in the per-cell stack + qid + qn
    rows_by_q: dict = {}
    for r in q_rows:
        rows_by_q.setdefault(r.query_id, []).append(r)
    est = per_query * len(rows_by_q) + per_row * len(q_rows)
    if est <= budget or len(rows_by_q) <= 1:
        return est, None
    chunks, cur, cur_bytes = [], [], 0
    for qid in sorted(rows_by_q):
        q_bytes = per_query + per_row * len(rows_by_q[qid])
        if cur and cur_bytes + q_bytes > budget:
            chunks.append(cur)
            cur, cur_bytes = [], 0
        cur.extend(rows_by_q[qid])
        cur_bytes += q_bytes
    if cur:
        chunks.append(cur)
    return est, chunks


def _gemm_pool_frame(
    lists: DataFrame,
    dim: int,
    kind: str,
    keep: int,
    q_rows,
    pq=None,
    closure_budget: int | None = None,
):
    """Blocked-GEMM scorer for the probe's approx stage at LARGE
    batches (round 10 — the 500k-loop finding, SCALING.md r10): the
    pair scorers cost ~1.5 µs per (query, candidate) PAIR, so a
    1000-query batch probing most cells pays minutes for its tens of
    millions of pairs. This form collects the query batch driver-side
    (bounded by the serving contract — the probe already collects its
    cells), closes it over ONE ``mapInPandas`` pass of the pruned
    lists, scores each Arrow batch with one BLAS matmul per probed
    cell (the ``brute_force_topk_np`` physics), and keeps a per-batch
    partial top-``keep`` per query IN THE GLOBAL TIE ORDER
    (desc cosine, asc neighbor_id — lexsort, so the caller's window
    cut over the union is exactly the full ranking's). Pair-scorer
    semantics preserved: degenerate/ragged queries emit nothing,
    degenerate corpus rows never rank, self-pairs masked.

    ``kind``: "sq8" reads (codes, scale, cn); "pq" reads (pq, cn) and
    requires ``pq=(books, cents)`` — the classic ADC lookup-table form
    (Jégou 2011 §IV): per QUERY, one (m x 256) table of
    subspace-block·codeword dots plus the exact coarse term
    q·centroid per probed cell; scoring a candidate is then m table
    gathers instead of a dim-wide dot. Tables are stored per query
    (NOT per (query, cell) — at 1000 queries x nprobe 8 that
    duplication alone would put ~128 MB in the task closure; per-query
    it is ~16 MB). Anything else reads the flat (cv, cn) lists.

    NULL parity with the pair scorers (round-10 review): degenerate
    corpus candidates (ragged / zero-norm) are EMITTED as NULL-cosine
    rows — capped at ``keep`` per query per batch and ordered after
    every finite row by ascending id, which is exactly where the
    window's (desc NULLS LAST, asc id) order puts them — so a probe
    whose cells hold fewer than k finite candidates returns the same
    padded rows on every scoring path. Degenerate QUERIES (NULL /
    ragged / zero-norm) emit NO rows — the documented
    ``brute_force_topk_np`` posture (the expression paths instead
    return k all-NULL rows for such a query; degenerate either way,
    and the divergence is pytest-pinned).

    ``q_rows`` are the (query_id, cell, qv, qn) rows the probe already
    collected for scan pruning — the serving path must not pay a
    second driver job re-running the cell UDF.

    Batches whose per-query closure state would exceed
    ``closure_budget`` (default :data:`GEMM_CLOSURE_BUDGET_BYTES`)
    auto-chunk by query id (round-11 brief #4): one mapInPandas pass
    per chunk over ONLY that chunk's probed cells, results unioned —
    the caller's window cut merges the partial pools exactly, since
    every chunk emits them in the global tie order."""
    budget = GEMM_CLOSURE_BUDGET_BYTES if closure_budget is None else closure_budget
    _est, chunks = _gemm_closure_chunks(q_rows, dim, kind, pq, budget)
    if chunks is not None:
        from functools import reduce

        parts = []
        for sub in chunks:
            cells = sorted({r.cell for r in sub})
            parts.append(
                _gemm_pool_frame(
                    lists.filter(F.col("cell").isin(cells)),
                    dim,
                    kind,
                    keep,
                    q_rows=sub,
                    pq=pq,
                    closure_budget=budget,
                )
            )
        return reduce(DataFrame.unionByName, parts)
    percell: dict = {}
    for r in q_rows:
        # degenerate queries (NULL / ragged / zero- or non-finite
        # norm) emit nothing — see the docstring
        if r.qv is None or len(r.qv) != dim or not r.qn or not np.isfinite(r.qn):
            continue
        percell.setdefault(r.cell, []).append((r.query_id, r.qv, r.qn))
    sq8 = kind == "sq8"
    is_pq = kind == "pq"
    if is_pq:
        books, cents = pq
        m_sub, k_codes, sub = books.shape
        cid_order, cmat = _codebook_matrix(cents)
        cid_to_row = {int(c): i for i, c in enumerate(cid_order)}
        # one ADC table per DISTINCT query: lut[mi][c] = q_block · book;
        # per-cell entries hold INDICES into the shared table array —
        # materializing tables per (query, cell) would multiply the
        # closure by nprobe
        qidx: dict = {}
        qvecs: list = []
        for rows in percell.values():
            for qid, qv, _qn in rows:
                if qid not in qidx:
                    qidx[qid] = len(qvecs)
                    qvecs.append(np.asarray(qv, dtype=np.float64))
        luts = (
            np.stack(
                [
                    np.stack(
                        [
                            books[mi] @ qarr[mi * sub : (mi + 1) * sub]
                            for mi in range(m_sub)
                        ]
                    )
                    for qarr in qvecs
                ]
            )
            if qvecs
            else np.zeros((0, m_sub, k_codes))
        )
        pc = {}
        for c, rows in percell.items():
            crow = cid_to_row.get(int(c))
            if crow is None:
                continue
            pc[c] = (
                np.array([t[0] for t in rows], dtype=np.int64),
                np.array([t[2] for t in rows], dtype=np.float64),
                # exact coarse term per (query, cell)
                np.array(
                    [float(qvecs[qidx[t[0]]] @ cmat[crow]) for t in rows],
                    dtype=np.float64,
                ),
                np.array([qidx[t[0]] for t in rows], dtype=np.int64),
            )
    else:
        pc = {
            c: (
                np.array([t[0] for t in rows], dtype=np.int64),
                np.array([t[1] for t in rows], dtype=np.float64),
                np.array([t[2] for t in rows], dtype=np.float64),
            )
            for c, rows in percell.items()
        }
    if sq8:
        cols = ["cell", "neighbor_id", "codes", "scale", "cn"]
    elif is_pq:
        cols = ["cell", "neighbor_id", "pq", "cn"]
    else:
        cols = ["cell", "neighbor_id", "cv", "cn"]
    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        }
    )

    def run(batches):
        for pdf in batches:
            outs = []
            for cell, grp in pdf.groupby("cell"):
                entry = pc.get(cell)
                if entry is None:
                    continue
                nbr = grp["neighbor_id"].to_numpy()
                cn = grp["cn"].to_numpy(dtype=np.float64)
                if is_pq:
                    qids, qn, qcent, qli = entry
                    code_mat = np.zeros((len(nbr), m_sub), dtype=np.int64)
                    valid = np.zeros(len(nbr), dtype=bool)
                    for i, c in enumerate(grp["pq"]):
                        if c is not None and len(c) == m_sub:
                            code_mat[i] = np.frombuffer(bytes(c), dtype=np.uint8)
                            valid[i] = True
                    # np.isfinite: an inf/NaN stored norm must pad as
                    # degenerate, not rank at 0.0 / vanish (the pair
                    # scorers mask non-finite denominators to NULL)
                    ok = valid & np.isfinite(cn) & (cn != 0.0)
                    deg_nbr = np.sort(nbr[~ok])
                    nbr, cn, code_mat = nbr[ok], cn[ok], code_mat[ok]
                    if len(nbr):
                        lt = luts[qli]  # (mq, m, 256)
                        approx = np.repeat(qcent[:, None], len(nbr), axis=1)
                        for mi in range(m_sub):
                            approx += lt[:, mi, :][:, code_mat[:, mi]]
                        # one division by the qn*cn PRODUCT — the pair
                        # scorers' exact float rounding
                        sims = approx / (qn[:, None] * cn[None, :])
                    else:
                        sims = np.zeros((len(qids), 0))
                else:
                    qids, qmat, qn = entry
                    vec_col = grp["codes"] if sq8 else grp["cv"]
                    mats, valid = _stack_valid(vec_col, dim)
                    ok = valid & np.isfinite(cn) & (cn != 0.0)
                    scale = None
                    if sq8:
                        scale = grp["scale"].to_numpy(dtype=np.float64)
                        ok &= np.isfinite(scale)  # defensive: writer never
                    deg_nbr = np.sort(nbr[~ok])  # NULL-cosine padding, id order
                    nbr, mats, cn = nbr[ok], mats[ok], cn[ok]
                    if len(nbr):
                        sims = qmat @ mats.T
                        if sq8:
                            # scale AFTER the raw int-code dot — the pair
                            # scorer computes scale*dot(q,codes)/denom, and
                            # matching its operation order keeps near-tied
                            # candidates in the same float order across
                            # fold/arrow/gemm (round-10 ADVICE: per-element
                            # pre-scaling diverges in the last ulp and can
                            # reorder a tie before the pool cut)
                            sims = sims * scale[ok][None, :]
                        sims = sims / (qn[:, None] * cn[None, :])
                    else:
                        sims = np.zeros((len(qids), 0))
                sims[qids[:, None] == nbr[None, :]] = -np.inf
                tq, tn, tc = [], [], []
                for qi in range(len(qids)):
                    cos = sims[qi]
                    order = np.lexsort((nbr, -cos))[:keep]
                    order = order[np.isfinite(cos[order])]
                    ids = list(nbr[order])
                    vals = list(cos[order])
                    if len(ids) < keep and deg_nbr.size:
                        pad = deg_nbr[deg_nbr != qids[qi]][: keep - len(ids)]
                        ids.extend(pad)
                        vals.extend([None] * len(pad))
                    if not ids:
                        continue
                    tq.append(np.full(len(ids), qids[qi], dtype=np.int64))
                    tn.append(np.asarray(ids, dtype=np.int64))
                    tc.extend(vals)
                if tq:
                    outs.append(
                        pd.DataFrame(
                            {
                                "query_id": np.concatenate(tq),
                                "neighbor_id": np.concatenate(tn),
                                "cosine": pd.array(tc, dtype="Float64"),
                            }
                        )
                    )
            yield pd.concat(outs) if outs else empty

    return lists.select(*cols).mapInPandas(
        run, schema="query_id long, neighbor_id long, cosine double"
    )


def pair_cosine_q_udf(dim: int):
    """Arrow-batched row-wise APPROXIMATE cosine over (query, int8-code)
    pairs — the quantized-list scoring path of the IVF-SQ8 state:
    ``cosine ≈ scale · dot(qv, codes) / (qn · cn)`` where ``codes`` are
    the symmetric per-vector int8 codes (:func:`~..functions.embeddings.
    quantize_int8` arithmetic) and ``cn`` is the TRUE norm of the
    original vector — quantization error lives only in the numerator
    (≤ scale/2 per element). Same NULL posture as
    :func:`pair_cosine_udf`."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine_q(
        qs: pd.Series, codes: pd.Series, scale: pd.Series, qn: pd.Series, cn: pd.Series
    ) -> pd.Series:
        qm, qok = _stack_valid(qs, dim)
        cm, cok = _stack_valid(codes, dim)
        sc = scale.astype("float64").to_numpy()
        denom = qn.astype("float64").to_numpy() * cn.astype("float64").to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            out = sc * np.einsum("ij,ij->i", qm, cm) / denom
        bad = ~qok | ~cok | ~np.isfinite(denom) | (denom == 0)
        return pd.Series(pd.array(out, dtype="Float64")).mask(bad)

    return pair_cosine_q


def pq_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    seed: int = 42,
    sample_rows: int = 20_000,
    iters: int = 12,
    cents: list[tuple[int, list[float]]] | None = None,
) -> np.ndarray:
    """Train a product-quantization codebook (Jégou et al., TPAMI 2011
    — public): split the ``dim`` dimensions into ``m`` contiguous
    subspaces and fit 256 k-means centroids PER SUBSPACE on a bounded,
    md5-coin-deterministic sample (the standard PQ training recipe —
    codebooks are fit on a sample, applied to the corpus). Returns a
    ``(m, 256, dim/m)`` float64 array: driver-side state bounded by
    ``m * 256 * sub`` floats by construction (~128 KB at dim 64), the
    same posture as the coarse codebook.

    ``cents`` (the coarse IVF codebook) switches training to
    RESIDUALS — ``v - coarse_centroid(assign(v))`` — the true IVFADC
    recipe, and the difference between a toy and a working PQ:
    measured on a clustered 2M corpus, raw-vector PQ recall collapsed
    to 0.00 (intra-cluster score spread drowns in quantization error;
    every same-cluster candidate ties in the approx ranking, so the
    rescore pool almost never holds the true neighbors) while residual
    PQ encodes only the small within-cell offsets and recall recovers
    (SCALING.md r9).

    Determinism: the sample is the md5-coin order of ``id_col`` (same
    rows every run/engine), k-means init is a seeded choice, Lloyd
    iterations are fixed-count — byte-identical codebooks per seed."""
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    coin = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    src = corpus.select(
        F.col(vec_col).alias("v"), coin.alias("_c"), F.col(id_col).alias("_id")
    ).where(F.col("v").isNotNull())
    if cents is not None:
        # ragged vectors drop at the door here too (second-pass review:
        # one truncated embedding crashed np.array with an opaque
        # inhomogeneous-shape error while flat/SQ8 writes sailed on)
        src = src.where(F.size("v") == len(cents[0][1]))
    # the 32-bit coin collides at corpus scale; without the id
    # tiebreaker the limit() cut is partition-order-dependent and the
    # "same sample every run/engine" promise breaks (second-pass review)
    rows = src.orderBy("_c", "_id").limit(sample_rows).collect()
    if not rows:
        raise ValueError("pq_train: corpus sample is empty")
    want = len(rows[0].v)
    x = np.array([r.v for r in rows if len(r.v) == want], dtype=np.float64)
    if cents is not None:
        _, cmat = _codebook_matrix(cents)
        x = x - cmat[(x @ cmat.T).argmax(axis=1)]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, 256, sub), dtype=np.float64)
    for mi in range(m):
        xs = x[:, mi * sub : (mi + 1) * sub]
        k = min(256, len(xs))
        sub_cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        if k < 256:  # tiny corpora: pad by repetition (codes still valid)
            sub_cents = np.concatenate(
                [sub_cents, sub_cents[rng.integers(0, k, 256 - k)]]
            )
        for _ in range(iters):
            # expanded-form argmin (||c||^2 - 2 x.c; ||x||^2 constant
            # per row) — the broadcast (n, 256, sub) temporary of the
            # naive form is ~1.3 GB per Lloyd step at dim 128
            d2 = (sub_cents**2).sum(axis=1)[None, :] - 2 * (xs @ sub_cents.T)
            assign = d2.argmin(axis=1)
            for c in range(256):
                mask = assign == c
                if mask.any():
                    sub_cents[c] = xs[mask].mean(axis=0)
        books[mi] = sub_cents
    return books


def pq_encode_udf(books: np.ndarray, cents: list[tuple[int, list[float]]]):
    """Arrow-batched RESIDUAL PQ encoder: (vector, coarse cell) ->
    ``m`` bytes — one nearest-centroid code per subspace of
    ``v - coarse_centroid(cell)`` (true IVFADC; see :func:`pq_train`
    for why raw-vector PQ is a toy). NULL/ragged vectors encode to
    NULL (the assign-at-the-door filter drops them)."""
    from pyspark.sql.functions import pandas_udf

    m, _, sub = books.shape
    dim = m * sub
    flat = books  # (m, 256, sub)
    cid_order, cmat = _codebook_matrix(cents)
    cid_to_row = {int(c): i for i, c in enumerate(cid_order)}

    @pandas_udf("binary")
    def encode(vs: pd.Series, cells: pd.Series) -> pd.Series:
        v, valid = _stack_valid(vs, dim)
        # explicit int64: an EMPTY batch's np.array([]) defaults to
        # float64 and float indices raise instead of gathering nothing
        rows = np.array(
            [cid_to_row.get(int(c), -1) if c is not None else -1 for c in cells],
            dtype=np.int64,
        )
        valid = valid & (rows >= 0)
        resid = v - cmat[np.clip(rows, 0, None)]
        out = []
        codes = np.empty((len(v), m), dtype=np.uint8)
        for mi in range(m):
            xs = resid[:, mi * sub : (mi + 1) * sub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
            dots = xs @ flat[mi].T
            cn2 = (flat[mi] ** 2).sum(axis=1)
            codes[:, mi] = (cn2[None, :] - 2 * dots).argmin(axis=1)
        for i, ok in enumerate(valid):
            out.append(codes[i].tobytes() if ok else None)
        return pd.Series(out)

    return encode


def pair_cosine_pq_udf(books: np.ndarray, cents: list[tuple[int, list[float]]]):
    """Arrow-batched APPROXIMATE cosine over (query, cell, pq-code)
    pairs: ``dot(q, v) ~= dot(q, coarse_centroid(cell)) + dot(q,
    decoded_residual)`` — the coarse term is EXACT (centroids ride the
    closure), only the residual is quantized. The residual gather is
    numerically identical to the classic ADC lookup-table sum,
    organized as one numpy gather + einsum per batch. As with SQ8,
    ``cn`` is the TRUE stored norm, so error lives only in the
    numerator."""
    from pyspark.sql.functions import pandas_udf

    m, _, sub = books.shape
    dim = m * sub
    cid_order, cmat = _codebook_matrix(cents)
    cid_to_row = {int(c): i for i, c in enumerate(cid_order)}

    @pandas_udf("double")
    def pair_pq(
        qs: pd.Series, cells: pd.Series, codes: pd.Series, qn: pd.Series, cn: pd.Series
    ) -> pd.Series:
        qm, qok = _stack_valid(qs, dim)
        n = len(qm)
        cok = np.zeros(n, dtype=bool)
        code_mat = np.zeros((n, m), dtype=np.int64)
        for i, c in enumerate(codes):
            if c is not None and len(c) == m:
                code_mat[i] = np.frombuffer(bytes(c), dtype=np.uint8)
                cok[i] = True
        rows = np.array(
            [cid_to_row.get(int(c), -1) if c is not None else -1 for c in cells],
            dtype=np.int64,
        )
        cok = cok & (rows >= 0)
        approx = np.einsum("ij,ij->i", qm, cmat[np.clip(rows, 0, None)])
        for mi in range(m):
            # decoded residual sub-vectors, row-gathered
            dec = books[mi][code_mat[:, mi]]  # (n, sub)
            approx += np.einsum("ij,ij->i", qm[:, mi * sub : (mi + 1) * sub], dec)
        denom = qn.astype("float64").to_numpy() * cn.astype("float64").to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            out = approx / denom
        bad = ~qok | ~cok | ~np.isfinite(denom) | (denom == 0)
        return pd.Series(pd.array(out, dtype="Float64")).mask(bad)

    return pair_pq


def ivf_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    codebook: str = "kmeans",
    max_train: int | None = 100_000,
) -> list[tuple[int, list[float]]]:
    """Build (and return) the IVF coarse codebook: ``n_centroids``
    unit-normalized centroid vectors as ``(cell_id, vector)`` pairs.

    Split out of :func:`ivf_topk` so the corpus pass it costs (a k-means
    fit or a seeded draw — the constant that dominated the sf0.1 IVF
    bench, see SCALING.md) is paid ONCE and amortized across query
    batches: build the codebook when the corpus lands, persist the K
    rows anywhere (they are plain Python data), and hand it to every
    subsequent ``ivf_topk(..., precomputed_codebook=cb)`` call. At
    100 TB the codebook is the only corpus-derived driver-side state in
    the search, and it is bounded by K*dim floats by construction.

    ``max_train`` (round 10): the k-means fit trains on at most this
    many vectors (content-addressed md5-ordered draw; see the inline
    comment for the order-preserving under-cap guard), making the fit
    corpus-size-independent. Threaded through :func:`ivf_topk` and
    :func:`ivf_state_write` so a caller rebuilding a large index can
    raise it (or pass ``None`` for the uncapped pre-r10 behavior)."""
    import math

    def unit(v: list[float]) -> list[float]:
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / nrm for x in v]

    cents: list[tuple[int, list[float]]] = []
    if codebook == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # Fit on unit-normalized vectors: Euclidean k-means on the unit
        # sphere == spherical k-means, matching the cosine geometry of
        # the search. Seeded -> deterministic centers.
        nrm_expr = F.sqrt(
            F.aggregate(
                F.col(vec_col),
                F.lit(0.0),
                lambda a, y: a + y.cast("double") * y.cast("double"),
            )
        )
        # Projection barrier: the norm fold materializes ONCE per row
        # before the transform references it — the inline form re-runs
        # the d-element fold per element (the documented O(d^2)
        # CodegenFallback trap; see functions/embeddings.py).
        # Bounded training set (round 10 — the 500k-loop finding): the
        # Lloyd fit re-scans its input ~20x, so an unbounded fit costs
        # 20 corpus passes — 160 s at 500k x 64, and flatly impossible
        # at 100 TB. A codebook is an ESTIMATE of the vector density;
        # past ~1000 x K training points more data moves the centroids
        # by noise (the faiss/sklearn training posture). The cap is
        # content-addressed (order by md5 of the id — the house coin),
        # so it is deterministic and engine-independent. Corpora under
        # the cap train on everything IN INPUT ORDER — k-means|| init
        # is row-order-sensitive, so the cap must not reorder a corpus
        # it doesn't bite (measured: the md5 reorder alone moved
        # small-SF centroids enough to drop pinned recall 0.8 -> 0.7).
        # The size probe is an early-terminating limit+count: it reads
        # ~cap rows, never the corpus.
        train = corpus
        if max_train is not None and (
            corpus.limit(int(max_train) + 1).count() > int(max_train)
        ):
            train = corpus.orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            ).limit(int(max_train))
        staged = train.select(F.col(vec_col).alias("_v"), nrm_expr.alias("_nrm")).where(
            F.col("_nrm") > 0
        )
        feats = staged.select(
            array_to_vector(
                F.transform(F.col("_v"), lambda x: x.cast("double") / F.col("_nrm"))
            ).alias("features")
        ).persist()  # the fit scans per iteration; never re-run the HOFs
        model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(feats)
        feats.unpersist()
        for cid, center in enumerate(model.clusterCenters()):
            cents.append((cid, unit([float(x) for x in center])))
    else:
        # "sample": seeded uniform draw of corpus vectors, one pass.
        # "sample_md5": same idea but the draw orders by md5(id) — an
        # engine-agnostic coin, so the ENTIRE search (codebook, cell
        # assignment, probes, ranking) is replayable in any SQL engine
        # with md5 — the reproducible-ANN contract the oracle checks.
        order = (
            F.md5(F.col("cid").cast("string"))
            if codebook == "sample_md5"
            else F.xxhash64(F.col("cid"), F.lit(seed))
        )
        cent_rows = (
            corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
            # a NULL embedding can't seed a centroid; skipping it here
            # keeps the draw identical on clean data (no reorder). Draw
            # 2x and trim to the modal length below so a ragged vector
            # can't poison the codebook either.
            .where(F.col("cvec").isNotNull())
            .orderBy(order, F.col("cid"))
            .limit(2 * n_centroids)
            .collect()
        )
        lengths = [len(r.cvec) for r in cent_rows]
        # Modal length with a deterministic tie-break (largest length
        # wins a count tie — set-iteration order is not a policy). This
        # guards against a MINORITY of ragged vectors poisoning the
        # codebook; if ragged rows form the plurality of the draw the
        # corpus itself is malformed and the dimension check below
        # surfaces it rather than silently searching a truncated space.
        modal = max(set(lengths), key=lambda ln: (lengths.count(ln), ln)) if lengths else 0
        for r in cent_rows:
            if len(r.cvec) == modal and len(cents) < n_centroids:
                cents.append((int(r.cid), unit([float(x) for x in r.cvec])))

    if not cents:
        raise ValueError(
            "ivf_topk: empty codebook — the corpus has no non-NULL "
            f"embeddings to draw {n_centroids} centroids from"
        )
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    codebook: str = "kmeans",
    assign: str = "sql",
    precomputed_codebook: list[tuple[int, list[float]]] | None = None,
    max_train: int | None = 100_000,
) -> DataFrame:
    """IVF-Flat ANN: coarse-quantize the corpus into ``n_centroids``
    inverted lists, probe the ``nprobe`` nearest lists per query, exact
    cosine + top-k within the probed cells.

    Codebooks (``codebook=``):
    - ``"kmeans"`` (default): spherical k-means centers via
      ``pyspark.ml.clustering.KMeans`` fitted on unit-normalized corpus
      vectors (seeded — deterministic). Tighter cells than sampling:
      measured recall@5 0.52 vs 0.44 at K=16/nprobe=4 on sf0.01.
    - ``"sample"``: the ``n_centroids`` smallest ``xxhash64(id, seed)``
      corpus vectors — a seeded uniform draw, one pass, no ML fit.
    Recall reality check (measured, SCALING.md): on ISOTROPIC synthetic
    embeddings recall tracks the scanned fraction (neighbors are barely
    closer than random), so the 0.8-recall operating point is
    nprobe/K ~= 1/2 regardless of codebook quality; on real clustered
    corpora the same nprobe/K buys far more. Centroids are unit-
    normalized driver-side (K rows — bounded, never the corpus) and
    inlined as literal arrays, so cell assignment is a JVM-side argmin
    of K dot products: zero extra shuffles for the corpus pass.

    100 TB: corpus cell-assignment is embarrassingly parallel; the probe
    join is an equality join on cell id against a broadcast exploded
    query×probe set; only |corpus|·nprobe/K vectors get scored per
    query. Recall is tested against brute force.

    ``precomputed_codebook``: hand back the list from
    :func:`ivf_codebook` to skip the codebook corpus pass — the
    amortization path for repeated query batches against one corpus
    (construction params are then ignored). An empty list is rejected,
    same as an empty draw.

    Output schema matches :func:`brute_force_topk` (rank within probed
    cells)."""
    if precomputed_codebook is not None:
        cents = [(int(cid), [float(x) for x in cv]) for cid, cv in precomputed_codebook]
        if not cents:
            raise ValueError("ivf_topk: precomputed_codebook is empty")
    else:
        cents = ivf_codebook(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            seed=seed,
            max_train=max_train,
            codebook=codebook,
        )
        # Degenerate-input guard (round-14 ADVICE): with zero centroids
        # the JSON fold would emit sequence(0, -1) = [0, -1] (descending
        # step inferred) and element_at(..., 0) throws at runtime — a
        # clear error here beats that.
        if not cents:
            raise ValueError("ivf_topk: codebook is empty (no training vectors)")

    def dist_entries_col() -> Column:
        # struct(-dot, cid) per centroid over the canonical input name
        # "_av": array_min/sort_array order by distance first, centroid
        # id as deterministic tiebreak.
        #
        # Construction history (each form measured): round 2 built
        # nested Column objects per element — K*dim py4j round trips
        # (~2000 for K=16/dim=64), ~4 s of constant overhead per call.
        # Round 3 switched to ONE compact SQL string (zip_with/aggregate
        # fold, D-suffixed repr literals) — parse is cheap (~4 ms), but
        # the ANALYZED tree carried K*dim Literal nodes, and every
        # downstream Dataset creation (withColumn/join/window — each
        # re-analyzes the whole logical plan) re-walked them: ~0.5 s of
        # driver wall per query build at K=16/dim=64. Round 14 collapses
        # the centroid matrix to ONE tree node: a JSON string literal
        # that from_json turns into array<array<double>>, consumed by a
        # transform-over-indices fold — the analyzer sees ~30 nodes
        # total, and the optimizer's constant folding evaluates the
        # from_json to a single array Literal once per execution. Build
        # wall ~0.62 s -> ~0.24 s, exec unchanged, results bit-identical
        # (json.dumps emits shortest-round-trip doubles; Jackson parses
        # correctly rounded; the per-centroid fold is unchanged: same
        # zip_with, same CAST, same left-to-right 0.0-seeded sum — so
        # the DuckDB oracle replay still matches bit-for-bit).
        # (Scale note: exact-replay literals are the CORRECTNESS-scale
        # contract; a 100 TB corpus pass would broadcast the codebook to
        # a vectorized Pandas UDF instead — same cells, BLAS assignment.)
        import json as _json
        import math as _math

        vecs = [cvec for _, cvec in cents]
        cids = [int(cid) for cid, _ in cents]
        if all(_math.isfinite(x) for cv in vecs for x in cv):
            # JSON of doubles/ints contains no quotes — safe to inline
            # as a single-quoted SQL string literal.
            cvs_json = _json.dumps(vecs, separators=(",", ":"))
            cids_json = _json.dumps(cids, separators=(",", ":"))
            return F.expr(
                f"transform(sequence(0, {len(cents) - 1}), i -> named_struct("
                "'d', -aggregate(zip_with(_av, element_at("
                f"from_json('{cvs_json}', 'array<array<double>>'), i+1), "
                "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, v) -> a + v), "
                f"'cid', element_at(from_json('{cids_json}', 'array<int>'), i+1)))"
            )
        # from_json yields NULL on non-standard tokens (NaN/Inf) — a
        # silently-wrong cell map; non-finite centroids take the
        # inline-literal path instead (slower build, same values).
        entries = []
        for cid, cvec in zip(cids, vecs):
            vals = ", ".join(f"{x!r}D" for x in cvec)
            entries.append(
                "named_struct('d', -aggregate(zip_with("
                f"_av, array({vals}), (x, y) -> CAST(x AS DOUBLE) * y), "
                "0.0D, (a, v) -> a + v), "
                f"'cid', {cid})"
            )
        return F.expr("array(" + ", ".join(entries) + ")")

    # Two assignment paths, same cells:
    # - "sql" (default): codegen/interpreted JVM fold over inlined
    #   centroid literals — exact left-to-right double arithmetic, fully
    #   replayable by the DuckDB oracle. Per-row cost is K interpreted
    #   folds; measured (SCALING.md round 3) this is the bottleneck past
    #   ~50k vectors (37 s at 200k, K=16, dim=64).
    # - "vectorized": broadcast the codebook to an Arrow-batched Pandas
    #   UDF and assign via one numpy matmul per batch — 30x faster at
    #   200k and the 100 TB corpus-pass design. argmax tie-break (first
    #   max = smallest cid) matches the SQL form's (d DESC, cid ASC);
    #   only sub-ulp dot differences (BLAS vs sequential summation) can
    #   flip a borderline cell, so the ORACLE-gated query keeps "sql".
    # Corpus-side parallelism: the per-row K-fold cell assignment (and
    # the candidate cosine scoring downstream of the broadcast join) is
    # the compute-heavy pass, and a small/compacted corpus arriving as
    # one parquet split would run it on one core (round 14, measured at
    # sf0.1: the assignment+scoring stage was a single 0.53 s task on a
    # 32-core box; fanned, exec wall 0.72 s -> 0.51 s). No-op when the
    # scan splits naturally — the 100 TB corpus pass is unaffected.
    from hadoop_20_warehouse_fix_spark.catalog import fan_out_small_scan

    corpus = fan_out_small_scan(corpus)
    if assign == "vectorized":
        assign_cell = assign_cell_udf(cents)
        probe_cells = probe_cells_udf(cents, nprobe)
        c = with_norm(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
            "cv",
            "cn",
        ).withColumn("cell", assign_cell(F.col("cv")))
        q = with_norm(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
            "qv",
            "qn",
        ).withColumn("cell", F.explode(probe_cells(F.col("qv"))))
    else:
        # ONE construction of the centroid-fold array, bound to the
        # canonical name "_av" and reused by BOTH sides (a Column is
        # just an expression tree over an unresolved attribute, so it
        # rebinds per side). The array_min / sort_array wrappers are
        # cheap Column ops over the shared subtree — generated code and
        # results are identical to the per-side SQL strings they
        # replace.
        dist_arr = dist_entries_col()
        c = (
            with_norm(
                corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")), "cv", "cn"
            )
            .withColumn("_av", F.col("cv"))
            .withColumn("cell", F.array_min(dist_arr)["cid"])
            .drop("_av")
        )
        q = (
            with_norm(
                queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")), "qv", "qn"
            )
            .withColumn("_av", F.col("qv"))
            .withColumn(
                "cell",
                F.explode(
                    F.transform(
                        F.slice(F.sort_array(dist_arr), 1, int(nprobe)), lambda e: e["cid"]
                    )
                ),
            )
            .drop("_av")
        )
    cosine_expr = cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    if assign == "vectorized":
        # Candidate scoring is the next interpreted-fold bottleneck
        # after assignment (|corpus|*nprobe/K pairs) — batch it through
        # Arrow as row-wise numpy dots. Sub-ulp BLAS-vs-fold differences
        # apply as above; the oracle-gated query keeps the fold.
        pair_cosine = pair_cosine_udf(len(cents[0][1]))
        cosine_expr = pair_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
    # ONE candidate pipeline; only the cosine expression differs by
    # branch (building the JVM form and discarding it in the vectorized
    # branch was copy-paste divergence waiting to happen).
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_expr)
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_cosine_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.4
) -> DataFrame:
    """Embedding near-dup pairs: all pairs with cosine >= threshold.
    Exact (nested-loop) at correctness scale; kept as the reference
    implementation that :func:`blocked_cosine_pairs` (the scale path)
    is tested against."""
    e = with_norm(emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v", "n")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", cosine(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


def blocked_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine-threshold self-join as a BLOCKED GEMM — the
    cluster-safe plan for exact all-pairs similarity.

    Why not candidate generation: at a low threshold on isotropic
    embeddings, exact all-pairs is the information-theoretic floor.
    Measured on this corpus (t=0.4): matched-pair cosines hug the
    threshold (min 0.40001 at sf0.1), so probabilistic LSH candidates
    WILL miss pairs, and spherical-kmeans cell blocking with
    triangle-inequality pruning keeps 100% of cell pairs (mean cell
    radius 75-82 deg vs a 66 deg threshold angle — no cluster structure
    to exploit). The approximate family (minhash/simhash/lsh_topk) stays
    the right tool when recall<1 is acceptable; when it is not, the
    honest scalable shape is this one.

    Shape: each vector is assigned a block g = pmod(xxhash64(id), G) and
    replicated to the G unordered block pairs containing g via a
    broadcast equality join + explode (never a cartesian / BNLJ — plan
    asserted in tests/test_plans.py). groupBy(pair) then scores each
    block pair with ONE numpy float64 matmul inside applyInPandas
    (Arrow-batched; float32 inputs are exact in float64, so results are
    bit-identical to a sequential double fold up to matmul summation
    order — verified value-identical to the DuckDB oracle at sf0.1).

    Scale: shuffle volume is n*G rows (replication factor G — chosen so
    2*(n/G) vectors fit a task: G ~ 2*n*dim*8B / task_mem); compute is
    O(n^2*d) BLAS spread over G*(G+1)/2 independent tasks. At 100 TB you
    raise G, not the algorithm."""
    import numpy as np
    import pandas as pd

    G = int(n_blocks)
    spark = emb.sparkSession
    # Unordered block pairs (i<=j), one pid each; block g belongs to
    # exactly G pids. Driver-side metadata: G(G+1)/2 rows — bounded.
    membership = [
        (g, [pid for pid, (i, j) in enumerate(
            [(i, j) for i in range(G) for j in range(i, G)]) if i == g or j == g])
        for g in range(G)
    ]
    memb_df = spark.createDataFrame(membership, "g int, pids array<int>")

    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(G)).cast("int").alias("g"),
    )
    replicated = (
        e.join(F.broadcast(memb_df), on="g")
        .select("id", "v", "g", F.explode("pids").alias("pid"))
    )

    pairs_list = [(i, j) for i in range(G) for j in range(i, G)]

    def score(key, pdf):
        i, j = pairs_list[int(key[0])]
        ids = pdf["id"].to_numpy()
        # NULL / ragged embeddings degrade to absent rows, not a task
        # crash (np.array on a ragged list raises) — same posture as the
        # reference embedding_cosine_pairs (NULL cosine never matches)
        # and the vectorized IVF _stack_valid guard.
        arrs = list(pdf["v"])
        d = next((len(a) for a in arrs if a is not None), 0)
        ok = np.fromiter(
            (a is not None and len(a) == d for a in arrs), dtype=bool, count=len(arrs)
        )
        if d == 0 or not ok.any():
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = ids[ok]
        X = np.array([arrs[ix] for ix in np.flatnonzero(ok)], dtype=np.float64)
        gsel_all = pdf["g"].to_numpy()[ok]
        nrm = np.linalg.norm(X, axis=1)
        nz = nrm != 0.0  # zero-norm: cosine undefined -> never matches
        ids, X = ids[nz], X[nz] / nrm[nz][:, None]
        gsel = gsel_all[nz]
        if i == j:
            sims = X @ X.T
            ia, ib = np.triu_indices(len(ids), k=1)
            cos = sims[ia, ib]
            keep = cos >= threshold
            id_a, id_b, cos = ids[ia[keep]], ids[ib[keep]], cos[keep]
        else:
            ma, mb = gsel == i, gsel == j
            ids_a, ids_b = ids[ma], ids[mb]
            sims = X[ma] @ X[mb].T
            ra, rb = np.nonzero(sims >= threshold)
            id_a, id_b, cos = ids_a[ra], ids_b[rb], sims[ra, rb]
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    out = replicated.groupBy("pid").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def brute_force_topk_np(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Vectorized brute-force cosine top-k: the query matrix is closed
    over (driver-side, bounded — queries are the small side) and each
    Arrow batch of corpus vectors is scored against ALL queries with one
    numpy matmul inside ``mapInPandas``; per-partition partial top-k
    rides to a tiny global window.

    The Arrow/numpy path for the math the JVM fold does per element —
    per-batch BLAS instead of 64 interpreted ops per pair. Produces
    IDENTICAL output to :func:`brute_force_topk` at round-6 precision
    (asserted in tests); prefer this form when dim or |queries| grows,
    the JVM form when Python workers are unavailable."""
    import numpy as np
    import pandas as pd

    q_rows = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")).collect()
    # Degenerate-input guard, mirroring the JVM cosine()'s posture:
    # NULL / ragged / zero-norm QUERIES are dropped (the JVM form emits
    # all-NULL cosines for them — degenerate either way), NULL / ragged
    # / zero-norm CORPUS vectors are masked per batch below, and an
    # empty usable query set returns an empty result instead of a
    # numpy AxisError.
    dim = next((len(r.qv) for r in q_rows if r.qv is not None), 0)
    q_keep = [
        r
        for r in q_rows
        if r.qv is not None and len(r.qv) == dim and any(float(x) != 0.0 for x in r.qv)
    ]
    if not q_keep:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r.qid for r in q_keep])
    q_mat = np.array([r.qv for r in q_keep], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            ids = pdf["nid"].to_numpy()
            arrs = list(pdf["cv"])
            ok = np.fromiter(
                (a is not None and len(a) == dim for a in arrs), dtype=bool, count=len(arrs)
            )
            if not ok.any():
                continue
            ids = ids[ok]
            c = np.array([arrs[ix] for ix in np.flatnonzero(ok)], dtype=np.float64)
            c_nrm = np.linalg.norm(c, axis=1, keepdims=True)
            nz = c_nrm[:, 0] != 0.0
            ids, c, c_nrm = ids[nz], c[nz], c_nrm[nz]
            c /= c_nrm
            sims = q_mat @ c.T  # (n_queries, batch)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                nb_ids, nb_sims = ids[mask], sims[qi][mask]
                if len(nb_ids) > k:
                    # partial top-k per batch: order by (-sim, id) like the window
                    sel = np.lexsort((nb_ids, -nb_sims))[:k]
                else:
                    sel = np.lexsort((nb_ids, -nb_sims))
                out_q.extend([q_ids[qi]] * len(sel))
                out_n.extend(nb_ids[sel])
                out_s.extend(nb_sims[sel])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_s})

    partial = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("cv")
    ).mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# Persisted IVF state (round-8 brief #3): the ANN index as bucketed tables
# with the SAME lifecycle as the LSH dedup state (write / append / probe /
# delete / compact, operators/dedup.py:784+) — a production vector index is
# built when the corpus lands and then serves query batches and daily
# appends WITHOUT re-running the codebook/assignment corpus pass per query.
# Reference model: MapFile as persisted probe-able state
# (/root/reference/src/core/org/apache/hadoop/io/MapFile.java:521).
# --------------------------------------------------------------------------


def ivf_state_write(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    state_name: str,
    n_centroids: int = 16,
    seed: int = 42,
    codebook: str = "kmeans",
    num_buckets: int = 8,
    path: str | None = None,
    quantize: bool | str = False,
    pq_m: int = 8,
    max_train: int | None = 100_000,
) -> None:
    """Materialize the IVF index as probe-able bucketed tables:

    - ``{state_name}_lists`` (cell, neighbor_id, cv, cn), bucketed by
      ``cell``: the inverted lists, with norms precomputed so probes
      never touch the raw corpus;
    - ``{state_name}_codebook`` (cid, cvec): K unit centroid rows;
    - ``{state_name}_meta``: one row pinning (n_centroids, dim,
      num_buckets, quantized, quant_kind). As with the LSH state,
      probe/append take NO codebook parameters — they read the stored
      codebook, so a mismatch is impossible by construction.

    ``quantize`` (round 9) shrinks what a probed cell stores — the
    honest physics of SCALING.md r8: probe cost is ~nprobe/K of the
    INDEX, so bytes-per-stored-vector is the lever that's left:

    - ``"sq8"`` (or ``True``): symmetric int8 codes + one scale per
      vector (~1/8 the bytes of float64);
    - ``"pq"``: PRODUCT quantization (Jégou 2011) — ``pq_m`` one-byte
      subspace codes per vector (8 bytes at pq_m=8 vs 512 for
      float64), codebooks trained on an md5-deterministic sample
      (:func:`pq_train`) and persisted as ``{state_name}_pq``.

    Either way a ``{state_name}_vectors`` side table (neighbor_id, cv,
    cn; bucketed + sorted by neighbor_id for fetch pushdown) holds the
    full vectors: probes score the stored codes, keep a candidate
    pool, and exact-RESCORE the pool from the side table — returned
    cosines are exact and quantization costs only pool-miss recall
    (see :func:`ivf_state_probe`).

    Assignment is the vectorized Arrow path (``assign_cell_udf``) —
    the 100 TB corpus-pass form; the corpus is touched exactly once."""
    from hadoop_20_warehouse_fix_spark.sources.writers import (
        ensure_managed_creatable,
        write_bucketed,
    )

    kind = {False: "none", True: "sq8", "sq8": "sq8", "pq": "pq", "none": "none"}.get(
        quantize
    )
    if kind is None:
        raise ValueError(
            f"quantize must be False/True/'sq8'/'pq'/'none', got {quantize!r}"
        )
    spark = corpus.sparkSession
    cents = ivf_codebook(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids,
        seed=seed, codebook=codebook, max_train=max_train,
    )
    assigned = _assigned_lists(corpus, id_col, vec_col, cents)
    books = None
    if kind == "pq":
        # fail BEFORE the sample job: dim is already known from the
        # coarse codebook (second-pass review — a bad pq_m burned the
        # whole codebook fit + corpus-wide sample sort first)
        if len(cents[0][1]) % pq_m:
            raise ValueError(
                f"dim {len(cents[0][1])} not divisible by m={pq_m} subspaces"
            )
        books = pq_train(
            corpus, id_col=id_col, vec_col=vec_col, m=pq_m, seed=seed, cents=cents
        )
    if kind != "none":
        # two consumers (codes + vectors) of one Arrow assignment pass
        # — barrier it or the corpus-wide cell assignment runs twice
        # (round-9 review; same fix as ivf_state_append, and what the
        # "corpus is touched exactly once" contract above promises)
        assigned = assigned.persist()
        try:
            write_bucketed(
                _quantize_lists(assigned)
                if kind == "sq8"
                else _pq_lists(assigned, books, cents),
                f"{state_name}_lists",
                ["cell"],
                num_buckets,
                path=f"{path}/lists" if path else None,
            )
            write_bucketed(
                assigned.select("neighbor_id", "cv", "cn"),
                f"{state_name}_vectors",
                ["neighbor_id"],
                num_buckets,
                path=f"{path}/vectors" if path else None,
            )
        finally:
            assigned.unpersist()
    else:
        write_bucketed(
            assigned,
            f"{state_name}_lists",
            ["cell"],
            num_buckets,
            path=f"{path}/lists" if path else None,
        )
        # a rebuild that flips quantize OFF must not leave a stale
        # vectors side table shadowing the new state
        spark.sql(f"DROP TABLE IF EXISTS {state_name}_vectors")
    if kind == "pq":
        _save_pq_books(spark, state_name, books, path)
    else:
        spark.sql(f"DROP TABLE IF EXISTS {state_name}_pq")
    cb = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "cid long, cvec array<double>",
    )
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_codebook")
    w = cb.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/codebook")
    else:
        ensure_managed_creatable(spark, f"{state_name}_codebook")
    w.saveAsTable(f"{state_name}_codebook")
    meta = spark.createDataFrame(
        [(len(cents), len(cents[0][1]), num_buckets, kind != "none", kind)],
        "n_centroids int, dim int, num_buckets int, quantized boolean,"
        " quant_kind string",
    )
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_meta")
    w = meta.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/meta")
    else:
        ensure_managed_creatable(spark, f"{state_name}_meta")
    w.saveAsTable(f"{state_name}_meta")
    # A rebuild under a reused state name must not inherit the previous
    # index's tombstones (round-8 review: stale tombstones silently
    # suppressed — and the next compact physically deleted — valid
    # vectors of the fresh index). Dropped LAST, only after every new
    # table landed: a rebuild that fails partway must leave the
    # still-live OLD state's tombstones in force, or a taken-down
    # vector would resurface in its probes (second-pass review).
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_tombstones")


def _assigned_lists(
    df: DataFrame, id_col: str, vec_col: str, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    lists = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "cv",
        "cn",
    ).withColumn("cell", assign_cell_udf(cents)(F.col("cv")))
    # a NULL/ragged vector assigns to a NULL cell: it can never be
    # probed (equality join) — drop it at the door instead of storing
    # dead rows in the index
    return lists.filter(F.col("cell").isNotNull()).select(
        "cell", "neighbor_id", "cv", "cn"
    )


def _quantize_lists(assigned: DataFrame) -> DataFrame:
    """(cell, neighbor_id, cv, cn) -> (cell, neighbor_id, codes, scale,
    cn): symmetric per-vector int8 quantization, the exact
    :func:`~..functions.embeddings.quantize_int8` arithmetic inlined on
    the assigned-lists shape. ``cn`` stays the TRUE norm of the original
    vector (exact denominator; codes only approximate the numerator).
    The amax fold is a bound column in its own projection — the
    O(d^2)-per-row lambda-capture trap documented at quantize_int8."""
    amax_expr = F.aggregate(
        F.col("cv"), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = assigned.select("cell", "neighbor_id", "cv", "cn", amax_expr.alias("_amax"))
    amax = F.col("_amax")
    scale = amax / F.lit(127.0)
    codes = F.when(
        amax == 0, F.transform(F.col("cv"), lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(F.col("cv"), lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
    )
    return staged.select(
        "cell", "neighbor_id", codes.alias("codes"), scale.alias("scale"), "cn"
    )


def _pq_lists(
    assigned: DataFrame, books: np.ndarray, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """(cell, neighbor_id, cv, cn) -> (cell, neighbor_id, pq, cn):
    residual product-quantization codes (``m`` bytes per vector as
    BINARY; residual vs the row's coarse centroid), the true norm kept
    for the cosine denominator. Vectors the encoder refuses
    (NULL/ragged) drop at the door, matching the NULL-cell posture."""
    enc = pq_encode_udf(books, cents)
    return (
        assigned.withColumn("pq", enc(F.col("cv"), F.col("cell")))
        .filter(F.col("pq").isNotNull())
        .select("cell", "neighbor_id", "pq", "cn")
    )


def _save_pq_books(spark, state_name: str, books: np.ndarray, path: str | None) -> None:
    from hadoop_20_warehouse_fix_spark.sources.writers import ensure_managed_creatable

    m, k, sub = books.shape
    rows = [
        (int(mi), int(ci), [float(x) for x in books[mi, ci]])
        for mi in range(m)
        for ci in range(k)
    ]
    df = spark.createDataFrame(rows, "mi int, ci int, cvec array<double>")
    spark.sql(f"DROP TABLE IF EXISTS {state_name}_pq")
    w = df.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/pq")
    else:
        ensure_managed_creatable(spark, f"{state_name}_pq")
    w.saveAsTable(f"{state_name}_pq")


def _state_pq_books(spark, state_name: str) -> np.ndarray:
    rows = spark.table(f"{state_name}_pq").collect()
    m = max(r.mi for r in rows) + 1
    k = max(r.ci for r in rows) + 1
    sub = len(rows[0].cvec)
    books = np.empty((m, k, sub), dtype=np.float64)
    for r in rows:
        books[r.mi, r.ci] = r.cvec
    return books


def _state_meta(spark, state_name: str):
    """The meta row plus the quantization KIND ('none' / 'sq8' / 'pq'),
    tolerating every meta generation: pre-r9 states have neither
    column; early-r9 states have only the boolean."""
    m = spark.table(f"{state_name}_meta").collect()[0]
    kind = getattr(m, "quant_kind", None)
    if kind is None:
        kind = "sq8" if bool(getattr(m, "quantized", False)) else "none"
    return m, kind


def _state_codebook(spark, state_name: str) -> list[tuple[int, list[float]]]:
    return [
        (int(r.cid), [float(x) for x in r.cvec])
        for r in spark.table(f"{state_name}_codebook").collect()
    ]


def _check_state_dim(df: DataFrame, vec_col: str, want_dim: int, op: str) -> None:
    """Fail loudly on a dimension-mismatched batch (round-8 review: a
    re-embedded 128-dim batch appended to a 64-dim index degraded to a
    SILENT no-op — every row assigned NULL, filtered at the door, and
    the caller believed the index had it; mismatched probes returned
    empty instead of erroring). One-row probe, the ``lsh_topk`` guard
    idiom."""
    probe = df.select(F.size(F.col(vec_col)).alias("d")).where(F.col("d") >= 0).first()
    if probe is not None and probe.d != want_dim:
        raise ValueError(
            f"{op}: batch embeddings have length {probe.d} but the index "
            f"was built on dim {want_dim} — every row would silently "
            "drop/miss; re-embed or rebuild the index"
        )


def ivf_state_append(new_df: DataFrame, id_col: str, vec_col: str, state_name: str) -> None:
    """Fold new vectors INTO the index: assign cells with the STORED
    codebook (K driver rows — never a corpus pass), append bucketed
    files; readers merge per-bucket, no rewrite of the existing lists.
    Same lazy-file-listing caveat as the LSH state: materialize any
    in-flight probe results before appending."""
    from hadoop_20_warehouse_fix_spark.sources.writers import write_bucketed

    spark = new_df.sparkSession
    m, kind = _state_meta(spark, state_name)
    _check_state_dim(new_df, vec_col, m.dim, "ivf_state_append")
    cents = _state_codebook(spark, state_name)
    assigned = _assigned_lists(new_df, id_col, vec_col, cents)
    if kind != "none":
        # two consumers (codes + vectors) of one assignment pass —
        # barrier it, or the Arrow cell assignment runs twice
        assigned = assigned.persist()
        try:
            write_bucketed(
                _quantize_lists(assigned)
                if kind == "sq8"
                else _pq_lists(assigned, _state_pq_books(spark, state_name), cents),
                f"{state_name}_lists",
                ["cell"],
                num_buckets=m.num_buckets,
                mode="append",
            )
            write_bucketed(
                assigned.select("neighbor_id", "cv", "cn"),
                f"{state_name}_vectors",
                ["neighbor_id"],
                num_buckets=m.num_buckets,
                mode="append",
            )
        finally:
            assigned.unpersist()
    else:
        write_bucketed(
            assigned,
            f"{state_name}_lists",
            ["cell"],
            num_buckets=m.num_buckets,
            mode="append",
        )


def ivf_state_probe(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    state_name: str,
    k: int = 5,
    nprobe: int = 4,
    rescore_factor: int = 4,
    scoring: str = "auto",
) -> DataFrame:
    """Serve a query batch against the persisted index. Semantics ≡
    ``ivf_topk(corpus, queries, assign="vectorized")`` with the same
    codebook (pytest-pinned), but the corpus side is the bucketed lists
    table and the codebook/assignment corpus pass is never re-run —
    the amortization a production index exists for.

    Probe physics (honest version): IVF-Flat scans the PROBED lists
    exhaustively by design, so per-batch cost is ~(probed cells /
    n_centroids) of the index — a constant fraction, not flat in
    corpus size (unlike the LSH state's candidate probe). What the
    state buys: no codebook fit, no corpus re-assignment, and a pruned
    scan: the batch's probed cells are collected (one tiny job over the
    small-by-contract query batch) and pushed as an ``IN`` filter, so
    the bucketed scan PRUNES unprobed buckets instead of reading the
    whole index and discarding at the join (pytest-pinned: one probed
    cell of a 4-bucket state reads 1 of 4 buckets).
    Tombstoned ids (:func:`ivf_state_delete`) are anti-joined out
    broadcast-side.

    Against a QUANTIZED state (``ivf_state_write(quantize=True)``,
    round 9 — IVF-SQ8) the probed scan reads int8 codes (~1/8 the
    bytes of the float64 lists), ranks approximately, keeps a
    ``rescore_factor * k`` candidate pool per query, and exact-rescores
    the pool against full vectors fetched from the side table — the
    candidate ids are collected (bounded: ≤ |batch| · rescore_factor ·
    k by construction) and pushed as an ``IN`` filter into the
    neighbor_id-sorted vectors table, so the fetch prunes row groups
    instead of scanning the corpus. Returned cosines are EXACT; the
    only approximation is pool membership — a true top-k neighbor
    ranked below the pool cut by quantization noise is missed
    (measured recall delta in SCALING.md r9).

    ``scoring`` (round 9 + round 10): ``"fold"`` = pure JVM expression
    cosine — no Python worker spin-up, which is ~1.5 s of a
    small-batch serving call's wall; ``"arrow"`` = the pandas-UDF PAIR
    scorer (~1.5 µs/pair after the spin-up constant); ``"gemm"``
    (round 10, the 500k-loop finding) = per-cell blocked BLAS matmul
    over the pruned lists with the query batch closed over
    (:func:`_gemm_pool_frame`) — matmul flops per pair, the only form
    that survives LARGE batches (measured: a 1000-query batch over a
    500k index spent 95 s pair-scoring 62.5M pairs; the GEMM pass does
    the same work in seconds). ``"auto"`` (default) estimates scored
    pairs from the bucket-pruned candidate count (one cheap scalar
    job) and picks fold below the ~1M-pair crossover, gemm above it
    (arrow remains the explicit middle option). On PQ states the gemm
    form is the classic ADC lookup-table pass — m byte-gathers per
    pair instead of a dim-wide dot (Jégou 2011 §IV); fold governs only
    the rescore stage there. All paths NULL/skip degenerate pairs
    identically and share the global tie order (pytest-pinned
    equality).

    Output schema matches :func:`ivf_topk` / :func:`brute_force_topk`."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import _state_tombstones

    spark = queries.sparkSession
    if rescore_factor < 1:
        raise ValueError(f"rescore_factor must be >= 1, got {rescore_factor}")
    if scoring not in ("auto", "arrow", "fold", "gemm"):
        raise ValueError(
            f"scoring must be 'auto', 'arrow', 'fold', or 'gemm', got {scoring!r}"
        )
    cents = _state_codebook(spark, state_name)
    # dim comes from the codebook the probe collects anyway — reading
    # the meta table added a whole extra job per serving call; the
    # quantized flag rides the lists schema itself (codes column), so
    # this stays meta-free too
    dim = len(cents[0][1])
    _check_state_dim(queries, vec_col, dim, "ivf_state_probe")
    lists = spark.table(f"{state_name}_lists")
    # quantization kind rides the lists schema itself — meta-free probe
    kind = "sq8" if "codes" in lists.columns else ("pq" if "pq" in lists.columns else "none")
    quantized = kind != "none"
    tomb = _state_tombstones(spark, state_name)
    if tomb is not None:
        lists = lists.join(
            F.broadcast(tomb.select(F.col("id").alias("neighbor_id"))),
            "neighbor_id",
            "left_anti",
        )
    q_base = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "qv",
        "qn",
    )
    q = q_base.withColumn(
        "cell", F.explode(probe_cells_udf(cents, nprobe)(F.col("qv")))
    )
    # non-distinct collect (bounded: |batch| * nprobe rows) — the
    # multiplicity feeds the auto pick's pairs estimate below.
    # Deliberately WITHOUT the query vectors: every fold/arrow serving
    # call would otherwise ship each vector nprobe times to the driver;
    # the gemm path joins the vectors back from one per-distinct-query
    # collect below, only when selected.
    probe_rows = q.select("query_id", "cell").collect()
    cell_rows = [r.cell for r in probe_rows]
    n_queries = len({r.query_id for r in probe_rows})
    cells = list(set(cell_rows))
    lists = lists.filter(F.col("cell").isin(cells))
    use_fold = scoring == "fold"
    use_gemm = False
    if scoring == "auto":
        # Measured pick (SCALING.md r9): the Arrow pair scorer costs a
        # ~1.5 s Python-worker spin-up CONSTANT per serving call but
        # ~40 ns/pair after; the JVM fold has no constant but the
        # interpreted HOF costs ~1.5 us/pair at dim 64. Crossover ~1M
        # scored PAIRS — pairs, not candidate rows (round-9 review: a
        # 1000-query batch probing the same cells multiplies every
        # candidate row by queries-per-cell). pairs ~= pruned candidate
        # rows x avg queries per probed cell; the row count is one
        # cheap scalar job over the bucket-pruned cell column.
        # ONE pairs-steps estimate (candidate rows x queries-per-cell
        # x dim) shared by every kind's pick, so the crossover constant
        # lives in exactly one place (round-10 review). The count job
        # runs for PQ too: it decided nothing in r9 (hence the ADVICE
        # removing it), but the ADC pass gives it a real approx-stage
        # strategy to choose now.
        est_steps = None
        if cell_rows:
            n_cand = lists.count()
            queries_per_cell = len(cell_rows) / max(len(cells), 1)
            est_steps = n_cand * queries_per_cell * max(dim, 1)
        if kind == "pq":
            # PQ has no JVM-expression approx form, so use_fold governs
            # ONLY the rescore stage — whose pair count is the pool
            # bound |batch| * rescore_factor * k BY CONSTRUCTION, not
            # n_cand * queries_per_cell: pick it from the bound alone
            # (round-9 ADVICE).
            use_fold = n_queries * rescore_factor * k * max(dim, 1) <= 64_000_000
            use_gemm = est_steps is not None and est_steps > 64_000_000
        elif est_steps is not None:
            # Below the crossover the JVM fold skips the Python worker
            # spin-up; past it the Arrow PAIR scorer would still pay
            # ~1.5 µs/pair (round 10, measured at 500k x 1000 queries:
            # 95 s), so big batches flip straight to the blocked-GEMM
            # scorer — ~matmul flops per pair
            use_fold = est_steps <= 64_000_000
            use_gemm = not use_fold
    use_gemm = use_gemm or scoring == "gemm"
    gemm_rows = None
    if use_gemm:
        # rebuild the helper's (query_id, cell, qv, qn) rows from the
        # pruning collect + ONE per-distinct-query vector fetch (no
        # explode, no cell UDF — round-10 review: collecting vectors on
        # the exploded frame shipped each one nprobe times, on every
        # probe, even the fold/arrow ones that never use them)
        qmap = {r.query_id: r for r in q_base.collect()}
        gemm_rows = [
            _GemmQRow(r.query_id, r.cell, qmap[r.query_id].qv, qmap[r.query_id].qn)
            for r in probe_rows
        ]
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    def _dim_guard(expr):
        # NULL-parity with the Arrow scorer, which NULLs ragged rows: a
        # mixed-width query batch must not silently truncate the fold
        return F.when((F.size(F.col("qv")) == dim), expr)

    if quantized:
        if use_gemm:
            pool_plan = (
                _gemm_pool_frame(
                    lists, dim, kind, rescore_factor * k, q_rows=gemm_rows,
                    pq=(
                        (_state_pq_books(spark, state_name), cents)
                        if kind == "pq"
                        else None
                    ),
                )
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= rescore_factor * k)
                .select("query_id", "neighbor_id")
            )
            approx_expr = None
        elif kind == "pq":
            # PQ pair-Arrow approx (small batches; the large-batch ADC
            # pass lives in the gemm branch above; use_fold still
            # governs only the rescore)
            approx_expr = pair_cosine_pq_udf(
                _state_pq_books(spark, state_name), cents
            )(F.col("qv"), F.col("cell"), F.col("pq"), F.col("qn"), F.col("cn"))
        elif use_fold:
            denom = F.col("qn") * F.col("cn")
            approx_expr = _dim_guard(
                F.when(
                    denom != 0,
                    F.col("scale") * dot(F.col("qv"), F.col("codes")) / denom,
                )
            )
        else:
            approx = pair_cosine_q_udf(dim)
            approx_expr = approx(
                F.col("qv"), F.col("codes"), F.col("scale"), F.col("qn"), F.col("cn")
            )
        if approx_expr is not None:
            pool_plan = (
                lists.join(F.broadcast(q), on="cell")
                .filter(F.col("neighbor_id") != F.col("query_id"))
                .withColumn("cosine", approx_expr)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= rescore_factor * k)
                .select("query_id", "neighbor_id")
            )
        # Bounded collect (the documented serving idiom): the pool is
        # <= |batch| * rescore_factor * k pairs BY CONSTRUCTION — the
        # window already cut it. Collecting once (a) yields the id
        # list the vectors fetch pushes down as an IN filter and (b)
        # re-seeds the rescore join from a local relation, so the
        # expensive approx scan runs exactly once and the returned
        # plan stays lazy with no persist lifecycle to manage.
        pool_rows = pool_plan.collect()
        pool = spark.createDataFrame(pool_rows, pool_plan.schema)
        cand_ids = list({r.neighbor_id for r in pool_rows})
        vectors_tbl = spark.table(f"{state_name}_vectors")
        if len(cand_ids) > 2048:
            # a multi-thousand-literal IN list costs more in plan
            # compilation than it saves in pruning (round 10, measured
            # 16.6 s at 19.5k ids on the 500k loop): keep row-group
            # pruning via the coarse id RANGE, exactness via a
            # broadcast join against the id set
            ids_df = spark.createDataFrame(
                [(int(i),) for i in cand_ids], "neighbor_id long"
            )
            vecs = (
                vectors_tbl.filter(
                    F.col("neighbor_id").between(min(cand_ids), max(cand_ids))
                )
                .join(F.broadcast(ids_df), "neighbor_id")
                .dropDuplicates(["neighbor_id"])
            )
        else:
            vecs = (
                vectors_tbl.filter(F.col("neighbor_id").isin(cand_ids))
                # appends re-add a vector row per batch; the fetch
                # needs one row per id
                .dropDuplicates(["neighbor_id"])
            )
        if use_fold:
            exact_expr = _dim_guard(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
            )
        else:
            exact = pair_cosine_udf(dim)
            exact_expr = exact(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
        scored = (
            pool.join(vecs, "neighbor_id")
            .join(F.broadcast(q_base), "query_id")
            .withColumn("cosine", exact_expr)
            .select("query_id", "neighbor_id", "cosine")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.round("cosine", 6).alias("cosine"),
                F.col("rank").cast("int").alias("rank"),
            )
        )
    if use_gemm:
        scored = _gemm_pool_frame(lists, dim, "flat", k, q_rows=gemm_rows)
    else:
        if use_fold:
            flat_expr = _dim_guard(
                cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"))
            )
        else:
            pair_cosine = pair_cosine_udf(dim)
            flat_expr = pair_cosine(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            )
        scored = (
            lists.join(F.broadcast(q), on="cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cosine", flat_expr)
            .select("query_id", "neighbor_id", "cosine")
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_state_delete(spark, state_name: str, ids) -> None:
    """Tombstone vectors out of the index (takedown/recrawl churn) —
    the LSH state's deletion discipline verbatim
    (``dedup._write_tombstones``): ids append to
    ``{state_name}_tombstones``, probes anti-join them out, the next
    :func:`ivf_state_compact` physically removes them. Same lossy-cast
    fail-fast contract as ``dedup.minhash_state_delete`` (the lists
    table's id column is ``neighbor_id``)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import _write_tombstones

    id_type = spark.table(f"{state_name}_lists").schema["neighbor_id"].dataType
    _write_tombstones(spark, state_name, ids, "ivf_state_delete", id_type)


def ivf_state_compact(spark, state_name: str) -> dict[str, tuple[int, int]]:
    """Compact the lists table (per-append file sets -> ~one file per
    bucket), physically dropping tombstoned vectors — the shared state
    compaction (``dedup._compact_state``: rename-aside swap,
    alternating stable locations; see ``minhash_state_compact``). A
    quantized state's full-vector side table compacts the same way
    (bucketed + re-sorted by neighbor_id, tombstones physically
    dropped)."""
    from hadoop_20_warehouse_fix_spark.operators.dedup import _compact_state

    _, kind = _state_meta(spark, state_name)
    tables = {f"{state_name}_lists": ["cell"]}
    if kind != "none":
        tables[f"{state_name}_vectors"] = ["neighbor_id"]
    return _compact_state(spark, state_name, tables, "neighbor_id")
