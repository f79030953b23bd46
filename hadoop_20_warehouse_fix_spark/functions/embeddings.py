"""Embedding column functions (training-data-pipeline extension pack):
unit normalization and int8 quantization — the storage/serving
preparation steps a 100 TB embedding corpus goes through before ANN
indexing or shipping to a feature store.

The vector math is pure built-in-expression compositions (JVM-side):
per-row array math with zero Python, zero shuffles — scan-fused at any
scale. :func:`hashing_vectorize` is the one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def l2_norm_col(vec: Column) -> Column:
    """Sequential-fold L2 norm in double precision (cross-engine
    bit-stable; mirrors operators.similarity.dot)."""
    return F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def normalize_embedding(vec: Column) -> Column:
    """Unit-normalize; NULL for zero-norm vectors (same degenerate-input
    posture as cosine(): NULL propagates instead of Inf/NaN).

    WARNING — O(d^2) per row: the norm fold is captured inside the
    transform lambda, and HOFs are CodegenFallback (no subexpression
    elimination), so the d-element fold re-runs per element. Fine for
    one-off column use; hot paths must use the projection-barrier form
    (:func:`with_l2_norm` + :func:`unit_from_norm` — measured 3.7x
    at dim=64 on 2k rows, floor-inclusive; the per-row gap is ~d-fold)."""
    nrm = l2_norm_col(vec)
    return F.when(nrm != 0, F.transform(vec, lambda x: x.cast("double") / nrm))


def with_l2_norm(df: DataFrame, vec_col: str = "embedding", out: str = "nrm") -> DataFrame:
    """Materialize the L2 norm as a BOUND column in its own projection —
    the doc_shingle_sets barrier idiom: downstream lambdas reference the
    column (evaluated once per row), not the fold expression (which an
    inline form re-evaluates per element)."""
    return df.withColumn(out, l2_norm_col(F.col(vec_col)))


def unit_from_norm(vec: Column, nrm: Column) -> Column:
    """Unit vector from a pre-materialized norm column; NULL for
    zero-norm. One traversal per row."""
    return F.when(nrm != 0, F.transform(vec, lambda x: x.cast("double") / nrm))


def quantize_int8(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max(|x_i|)/127,
    code_i = round(x_i / scale) ∈ [-127, 127]. 4x smaller than float32
    (16x vs the float64 compute form) with reconstruction error
    ≤ scale/2 per element — the standard ANN-serving compression.

    Row-local arithmetic (no shuffle); codes ride as array<tinyint> and
    the scale as one double, so dequantization (code_i * scale) is also
    scan-fused. Zero vectors get scale 0 and all-zero codes.

    The amax fold is materialized as a bound column in its own
    projection BEFORE the quantizing transform references it —
    capturing the fold in the lambda would re-run it per element
    (O(d^2) per row; the langscore_struct / doc_shingle_sets trap)."""
    vec = F.col(vec_col)
    amax_expr = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = df.select(F.col(id_col), vec.alias("_v"), amax_expr.alias("_amax"))
    amax = F.col("_amax")
    scale = amax / F.lit(127.0)
    codes = F.when(
        amax == 0, F.transform(F.col("_v"), lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(F.col("_v"), lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
    )
    return staged.select(
        F.col(id_col),
        scale.alias("scale"),
        codes.alias("codes"),
    )


def dequantize_int8(codes_col: str = "codes", scale_col: str = "scale") -> Column:
    """Reconstruct approximate doubles: code_i * scale. Column
    expression over bound (codes, scale) columns — the per-element
    scale reference is a plain column lookup, not a fold."""
    return F.transform(F.col(codes_col), lambda c: c.cast("double") * F.col(scale_col))


def hashing_vectorize(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    weighting: str = "log",
    normalize: bool = True,
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic hashing-trick text vectorizer (round 9): closes
    the raw-text -> vectors -> ANN loop that every ``sim_*`` query
    previously assumed pre-made embeddings for. Each token buckets to
    ``hexint(md5(token)[:8]) % dim`` (the engine-agnostic md5-coin
    idiom — DuckDB replays it exactly, pytest-gated), weights are term
    counts (``weighting="tf"``) or ``ln(1 + tf)`` (``"log"``, the
    sublinear-TF default), optionally unit-normalized.

    Physical form (round 10 — a finding from the 500k-doc loop
    measurement, SCALING.md r10): a pandas UDF with a per-batch
    token->bucket md5 memo (the BPE-encode memo idiom) and numpy
    bincount/log1p/normalize, ~40 µs/doc. An all-JVM higher-order-
    function fold of the same vectors measured 6.9 ms/doc at dim 64
    (~170x slower: Spark's codegen refuses the nested lambda tree and
    the interpreted evaluator costs ~µs/step). Row-local with ZERO
    shuffles. Tokenization is the pinned Java-``\\s`` Python twin of
    :func:`~.text.words_of` (lowercase whitespace split), the same
    contract every text oracle replays.

    NULL text gives a NULL vector. Empty/whitespace-only docs produce
    the zero vector, which normalization maps to NULL (the cosine
    degenerate-input posture: NULL propagates instead of NaN ranking
    first). The output column is a plain UDF result, so it feeds
    ``ivf_state_write`` directly (pytest-pinned).

    Reference analog: the index-contrib term-vector build
    (``/root/reference/X/index/.../main/IndexUpdateMapper.java:39``)
    — terms hashed to a bounded feature space at map time."""
    from hadoop_20_warehouse_fix_spark.operators.bpe import _WS_RE

    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    if weighting not in ("tf", "log"):
        raise ValueError(f"weighting must be 'tf' or 'log', got {weighting!r}")
    for col in (id_col, text_col):
        if col not in df.columns:
            raise ValueError(
                f"hashing_vectorize: column {col!r} not in input "
                f"(have {df.columns}); id_col must name the key the "
                f"downstream ANN state will address vectors by"
            )
    use_log = weighting == "log"

    @F.pandas_udf(ArrayType(DoubleType()))
    def _vec(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}  # token -> bucket, per batch
        out = []
        for t in texts:
            if t is None or (isinstance(t, float) and pd.isna(t)):
                out.append(None)  # NULL in, NULL out
                continue
            v = np.zeros(dim)
            for w in _WS_RE.split(t.lower()) if t else ():
                if not w:
                    continue
                b = memo.get(w)
                if b is None:
                    b = memo[w] = (
                        int(hashlib.md5(w.encode("utf-8")).hexdigest()[:8], 16)
                        % dim
                    )
                v[b] += 1.0
            if use_log:
                v = np.log1p(v)
            if normalize:
                n = float(np.sqrt(v @ v))
                if n == 0.0:
                    out.append(None)
                    continue
                v = v / n
            out.append(v.tolist())
        return pd.Series(out)

    return df.select("*", _vec(F.col(text_col)).alias(out_col))
