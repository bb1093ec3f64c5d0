"""Embedding-matrix statistics: exact covariance and PCA whitening.

The statistics a vector-curation pipeline needs before it can compress or
whiten its embeddings (whitening is the standard pre-step for retrieval
quality and for PQ/IVF codebook training): the dim×dim covariance of the
corpus embedding matrix, computed distributed, and the whitening
transform derived from it driver-side (a dim×dim frame is metadata, not
data — the ONE place driver-side linear algebra is the right call).

Why ``mapInPandas`` here and (almost) nowhere else in this engine: the
Gram matrix Σ x·xᵀ is a DENSE dim² accumulation per row. The built-in
expression of it (posexplode the vector twice → groupBy (i, j)) multiplies
the corpus by dim(dim+1)/2 rows BEFORE the map-side combine gets to run —
at dim 64 a 2,080× explosion of shuffle input, at dim 1024 a 525,000×
one. The Arrow path instead folds each PARTITION to a single integer
Gram matrix with one numpy matmul and ships dim(dim+1)/2 rows per task
TOTAL — the classic case (b) of the engine's UDF policy: built-ins can
express the semantics but not the scale shape.

Engine parity is preserved through the usual integer discipline: elements
are quantized to ``scale``-denominated BIGINTs BEFORE any arithmetic, the
per-partition Gram is an exact int64 matmul, and partials combine by
integer addition — order-independent, so the DuckDB oracle's (explode ×
explode) formulation produces bit-identical sums. One floating division
at the boundary.

Overflow bound (documented, like the bigram LM's): each Gram cell sums
``n`` products bounded by ``(|x|·scale)²``, so with |x| ≤ 2 and the
default micro scale, n must stay ≤ ~5.7e5 per cell at int64 — plenty for
audit samples; at full-corpus scale pass ``scale=1_000`` (milli), which
admits n ≤ 5.7e11 at the cost of 3 fewer digits of covariance. The
covariance NUMERATOR (``n·G − S_i·S_j`` — each term up to
``(n·|x|·scale)²``) would overflow int64 far earlier (n ≈ 1.5e3 at
micro scale), so it is computed in DECIMAL(38,0) engine-side and
HUGEINT oracle-side — exact to n ≈ 1e12, and the Gram-cell bound above
stays the binding one.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import artifacts
from ..functions.numeric import unsign_zero


def _covariance_with_stats(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Internal: (covariance frame, its cache()d stats frame), shared
    through :func:`..artifacts.shared` — repeat calls over the same
    corpus reuse the one materialization, and a miss (another corpus, or
    this path rewritten in place) unpersists the old stats frame BEFORE
    the new ``cache()``, so Spark's CacheManager can never serve a stale
    same-plan materialization. The stats handle lets
    :func:`whitening_transform` read the means from the same pass.
    Public callers use :func:`embedding_covariance`."""
    return artifacts.shared(
        "covariance_stats",
        embeddings,
        (dim, vec_col, scale),
        lambda: _build_covariance(embeddings, dim, vec_col, scale),
    )


def _build_covariance(
    embeddings: DataFrame, dim: int, vec_col: str, scale: int
) -> tuple[DataFrame, DataFrame]:
    """Population covariance of the corpus embedding matrix, long-form:
    one row per (i, j) with i ≤ j — ``cov = (n·G_ij − S_i·S_j) / n²`` over
    ``scale``-quantized elements, rounded to 6dp (scalar-typed rows for
    the hash gate, like ``embedding_centroids``).

    Plan: ONE corpus pass — the per-partition Arrow kernel emits the
    integer Gram (numpy int64 matmul, dim(dim+1)/2 rows per task
    regardless of row count) PLUS the per-column sums (j = −1 rows) and
    the row count (i = j = −1) from the same quantized matrix, so the
    means need no second scan (the pre-r10 shape derived sums/counts
    from a posexplode aggregate referenced twice, which Spark re-planned
    into TWO extra corpus scans — 3x read amplification at 100 TB); one
    combinable (i, j) sum; the dim²-bounded stats frame is cache()d (NOT
    localCheckpoint'ed — cache keeps the kernel subtree visible to plan
    lint; its lifetime is the artifact-store slot's, see
    :func:`_covariance_with_stats`) so its g/s/n slices share one
    materialization; the dim-bounded sum tables broadcast onto the
    dim²-bounded result. Nothing data-proportional shuffles or collects.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    def gram(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from weather_bigquery_lakehouse_spark.worker import (
            silence_arrow_concat_futurewarning,
        )

        silence_arrow_concat_futurewarning()
        acc = np.zeros((dim, dim), dtype=np.int64)
        colsum = np.zeros(dim, dtype=np.int64)
        n_rows = 0
        for b in batches:
            if not len(b):
                continue
            y = np.array(b[vec_col].tolist(), dtype=np.float64) * scale
            # HALF-AWAY-FROM-ZERO, matching Spark/DuckDB ROUND — np.rint
            # is half-even and would drift exact-.5 products off the
            # oracle by one integer unit
            m = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            acc += m.T @ m
            colsum += m.sum(axis=0)
            n_rows += len(m)
        if not n_rows:
            return
        iu = np.triu_indices(dim)
        yield pd.DataFrame(
            {
                "i": np.concatenate(
                    [iu[0], np.arange(dim), [-1]]
                ).astype("int32"),
                "j": np.concatenate(
                    [iu[1], np.full(dim, -1), [-1]]
                ).astype("int32"),
                "g": np.concatenate([acc[iu], colsum, [n_rows]]),
            }
        )

    stats = (
        embeddings.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .select(vec_col)
        .mapInPandas(gram, schema="i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        # dim²-bounded and shared by the g/s/n slices: cache() (not
        # localCheckpoint) so the kernel subtree stays VISIBLE to
        # explain/plan-lint while materializing once — the slices read
        # InMemoryTableScan instead of re-planning the corpus scan
        .cache()
    )
    g = stats.where((F.col("i") >= 0) & (F.col("j") >= 0))
    s = stats.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("pos"), F.col("g").alias("s")
    )
    n = stats.where(F.col("i") == -1).select(F.col("g").alias("n"))
    # The numerator in DECIMAL(38,0): n·G and S_i·S_j are each bounded
    # by (n·scale·max|x|)² — BIGINT wraps SILENTLY past n ≈ 1.5e3·(2/max|x|)
    # at full scale (Spark non-ANSI long multiply), while decimal(20,0)
    # operands promote to an exact 38-digit product (good to n ≈ 1e12);
    # the oracle mirrors with HUGEINT. Exact integer → double cast keeps
    # the rounded 6dp result bit-identical across engines.
    d20 = "decimal(20,0)"
    cov = (
        (
            F.col("n").cast(d20) * F.col("g").cast(d20)
            - F.col("s_i").cast(d20) * F.col("s_j").cast(d20)
        ).cast("double")
        / (F.col("n").cast("double") * F.col("n").cast("double") * float(scale) * float(scale))
    )
    return (
        g.join(
            F.broadcast(s.select(F.col("pos").alias("i"), F.col("s").alias("s_i"))),
            "i",
        )
        .join(
            F.broadcast(s.select(F.col("pos").alias("j"), F.col("s").alias("s_j"))),
            "j",
        )
        .crossJoin(F.broadcast(n))  # 1-row corpus count
        # unsign_zero: ROUND on a tiny negative covariance mints -0.0 in
        # DuckDB but +0.0 under Spark's HALF_UP — ==-equal, hash-different
        # (the round-10 driver red: one cell in 2,080). Normalized at the
        # boundary on BOTH engines.
        .select("i", "j", unsign_zero(F.round(cov, 6)).alias("cov"))
    ), stats


def embedding_covariance(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Population covariance, long-form (i <= j) — see
    :func:`_build_covariance` for the one-pass plan narrative and the
    decimal-numerator overflow discipline. The stats frame it cache()s
    lives in the ``"covariance_stats"`` artifact slot: repeat calls over
    the same corpus share it, recomputing over an overwritten source is
    always FRESH, and ``artifacts.clear("covariance_stats")`` drops it
    (bench does, per rep)."""
    cov, _stats = _covariance_with_stats(embeddings, dim, vec_col, scale)
    return cov


def whitening_transform(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-6,
    scale: int = 1_000_000,
):
    """PCA whitening matrix ``W`` (dim×dim numpy array) and mean vector
    ``mu`` such that ``(x − mu) @ W`` has identity covariance: eigh on the
    distributed covariance, ``W = V · diag(1/√(λ+eps)) · Vᵀ`` (ZCA form —
    stays in the original basis). The eigendecomposition runs DRIVER-side
    on the dim×dim frame — bounded metadata, the legitimate exception to
    the no-driver-compute rule; everything data-proportional happened in
    :func:`_covariance_with_stats`: ``mu`` derives from the SAME cached
    stats frame the covariance kernel already built — owned here BY
    CONSTRUCTION via the tuple return, not registry index arithmetic
    (mu = s/(n·scale), quantization error ≤ 0.5/scale per element,
    dominated by ``eps`` in the eigenvalue floor; the pre-r10 shape paid
    a second full corpus scan for float-exact means). whitening is a
    terminal driver-side consumer, so it unpersists its own stats frame
    in a ``finally``, by clearing its artifact slot — self-cleaning by
    default (no leak across corpora, no stale CacheManager hit if the
    same path is overwritten in place).
    The one cost: unpersist is plan-keyed, so a SIBLING covariance over
    the same corpus still lazy elsewhere loses its cache entry and
    recomputes when collected — slower, never wrong; callers holding
    such a sibling should collect it first. Not SQL-expressible
    (iterative eigen solve), so pytest-verified rather than
    oracle-gated."""
    import numpy as np

    cov_df, stats = _covariance_with_stats(embeddings, dim, vec_col, scale)
    try:
        c = np.zeros((dim, dim))
        for r in cov_df.collect():
            c[r.i, r.j] = c[r.j, r.i] = r.cov
        mu = np.zeros(dim)
        # ONE collect: j == -1 carries the dim column-sum rows (i >= 0)
        # AND the count row (i == -1)
        meta = stats.where(F.col("j") == -1).collect()
        n = next((float(r.g) for r in meta if r.i == -1), 0.0)
        if n > 0:
            for r in meta:
                if r.i >= 0:
                    mu[r.i] = r.g / (n * scale)
        # empty/all-null corpus: c and mu stay zero — W degrades to the
        # eps-floored identity scaling, matching the pre-r10 behavior
    finally:
        artifacts.clear("covariance_stats")
    lam, v = np.linalg.eigh(c)
    w = v @ np.diag(1.0 / np.sqrt(np.maximum(lam, 0.0) + eps)) @ v.T
    return w, mu


def apply_whitening(
    embeddings: DataFrame,
    w,
    mu,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector through the whitening transform: ``(x − mu) @
    W`` as an Arrow batch matmul — the dim×dim matrix broadcasts inside
    the serialized closure (kilobytes), the corpus streams through one
    map, no shuffle."""
    import pandas as pd  # noqa: F401

    def project(batches):
        import numpy as np
        import pandas as pd

        from weather_bigquery_lakehouse_spark.worker import (
            silence_arrow_concat_futurewarning,
        )

        silence_arrow_concat_futurewarning()
        wm = np.asarray(w, dtype=np.float64)
        mv = np.asarray(mu, dtype=np.float64)
        for b in batches:
            if not len(b):
                continue
            m = np.array(b[vec_col].tolist(), dtype=np.float64)
            out = (m - mv) @ wm
            yield pd.DataFrame(
                {id_col: b[id_col], vec_col: [r.tolist() for r in out]}
            )

    # carry the caller's id type through (string/int vec ids are legal —
    # hardcoding long would fail any non-bigint corpus at runtime)
    id_type = T.StructField(id_col, embeddings.schema[id_col].dataType)
    out_schema = T.StructType(
        [id_type, T.StructField(vec_col, T.ArrayType(T.DoubleType()))]
    )
    return embeddings.select(id_col, vec_col).mapInPandas(project, schema=out_schema)
