"""Embedding-column operators: normalization, int8 quantization, and
exact group centroids.

Engine additions (the reference, lisad/phaser, has no vector operators);
part of the LLM-data suite alongside :mod:`phaser_spark.ops.similarity`
(which consumes these columns for ANN / near-dup search).

Scale design notes
------------------
* Everything here is a pure per-row projection over ``array<float>``
  columns — no shuffle, no UDF, whole-stage-codegen higher-order
  functions only — so normalizing or quantizing a 100 TB embedding table
  is a single scan that Catalyst fuses with the surrounding plan.
* ``group_centroids`` is the one aggregation: element-wise sums with
  map-side combine, cardinality = n_groups × dim.  That CROSS-ROW sum
  accumulates as decimal, not double, so the result does not depend on
  partition / shuffle order — a plain double sum over a reshuffled
  100 TB table produces different low bits every run, which breaks both
  reproducible pipelines and the external-oracle check.  (Per-row array
  folds like ``l2_norm`` stay plain double: array order is fixed, so an
  ordered left fold is already deterministic.)
* Determinism contract (matches ops/similarity): float→double casts are
  exact, products/divisions are IEEE-deterministic, ``sqrt`` is
  correctly rounded everywhere, and half-up rounding is spelled
  ``floor(x + 0.5)`` so Spark and any external SQL engine agree
  bit-for-bit.  No ``pow``/``exp``/``log`` (not correctly rounded,
  engine-dependent last ulp) anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column as SparkCol
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import trunc_digits


def _as_double(vec: SparkCol) -> SparkCol:
    return vec.cast("array<double>")


def l2_norm(vec: SparkCol) -> SparkCol:
    """Euclidean norm of an ``array<float|double>`` column.  Plain-double
    ordered left fold: a per-row array fold visits elements in array
    order on every engine, so the sum is deterministic without decimal
    overhead (DuckDB's ``list_reduce`` replays it bit-for-bit) and stays
    on the whole-stage-codegen double path; ``sqrt`` is correctly
    rounded."""
    v = _as_double(vec)
    ssq = F.aggregate(
        F.transform(v, lambda x: x * x),
        F.lit(0.0),
        lambda acc, e: acc + F.coalesce(e, F.lit(0.0)),
    )
    return F.sqrt(ssq)


def l2_normalize(vec: SparkCol) -> SparkCol:
    """Unit-normalize; an all-zero vector stays all-zero (no NaN leak)."""
    v = _as_double(vec)
    n = l2_norm(vec)
    return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))


def max_abs(vec: SparkCol) -> SparkCol:
    """max(|xᵢ|) — the int8 quantization scale.  array_max of exact
    negations, no epsilon games."""
    v = _as_double(vec)
    return F.array_max(F.transform(v, lambda x: F.when(x < 0, -x).otherwise(x)))


def quantize_int8(vec: SparkCol) -> SparkCol:
    """Symmetric int8 quantization: ``qᵢ = floor(xᵢ / scale · 127 + 0.5)``
    with ``scale = max|xᵢ|`` — the standard absmax scheme (e.g.
    LLM.int8(), faiss SQ8).  Returns ``struct<scale double,
    q array<int>>``; 4× (fp32) / 8× (fp64) smaller on disk and exactly
    reproducible: half-up rounding via ``floor(+0.5)`` avoids engine
    round() tie-break differences, and a zero vector quantizes to zeros
    with scale 0 rather than dividing by it."""
    v = _as_double(vec)
    scale = max_abs(vec)
    q = F.when(
        scale == 0.0, F.transform(v, lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(v, lambda x: F.floor(x / scale * 127.0 + 0.5).cast("int"))
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(quant: SparkCol) -> SparkCol:
    """Inverse of :func:`quantize_int8`: ``xᵢ ≈ qᵢ · scale / 127``."""
    return F.transform(quant["q"], lambda q: q.cast("double") * quant["scale"] / 127.0)


def quantization_error(vec: SparkCol) -> SparkCol:
    """max |x − dequant(quant(x))| — the absmax-int8 reconstruction bound
    (≤ scale/254).  Round-trips through the real quantizer, not a
    closed-form estimate, so regressions in either direction surface."""
    v = _as_double(vec)
    back = dequantize_int8(quantize_int8(vec))
    diff = F.zip_with(v, back, lambda a, b: F.when(a > b, a - b).otherwise(b - a))
    return F.coalesce(F.array_max(diff), F.lit(0.0))


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean vector per group — mean-pooling a corpus into
    per-label / per-cluster centroids (the reduce step of k-means, topic
    summaries, class prototypes).

    Returns ``(group_col, centroid array<double>, n bigint)``.  One
    ``posexplode`` + one ``groupBy(group, dim)`` with map-side combine,
    then a per-group ``array_sort(collect_list(...))`` reassembly whose
    width is the embedding dim — never a corpus-sized collect.  Decimal
    accumulation keeps the mean independent of row order (see module
    notes); the division happens once per (group, dim) after the exact
    sum.
    """
    dims = df.select(
        F.col(group_col).alias("g"),
        F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"),
    )
    sums = dims.groupBy("g", "dim").agg(
        F.sum(F.col("x").cast("decimal(28,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    rebuilt = (
        sums.withColumn("mean", F.col("s").cast("double") / F.col("n"))
        .groupBy("g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean"))),
                lambda e: e["mean"],
            ).alias("centroid"),
            F.max("n").alias("n"),
        )
    )
    return rebuilt.select(F.col("g").alias(group_col), "centroid", "n")


def embedding_summary(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Per-vector quantization scorecard: the norm, the int8 scale, the
    exact integer sum of the quantized vector (a whole-vector checksum
    with no float formatting in it), and the max reconstruction error.

    The checksum column is the load-bearing one for verification: two
    engines that disagree anywhere in the 64-element quantization differ
    in an integer, not in the 15th decimal digit of a float.
    """
    v = F.col(vec_col)
    quant = quantize_int8(v)
    return df.select(
        F.col(id_col),
        trunc_digits(l2_norm(v), digits).alias("norm"),
        trunc_digits(quant["scale"], digits).alias("q_scale"),
        F.aggregate(
            quant["q"], F.lit(0).cast("long"), lambda acc, q: acc + q
        ).alias("q_sum"),
        trunc_digits(quantization_error(v), digits + 3).alias("max_err"),
    )


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    exact: bool = True,
    upper_only: bool = True,
) -> DataFrame:
    """Population covariance of an embedding column as a LONG matrix
    ``(i, j, cov)`` (1-based dims, upper triangle by default) — the fit
    half of PCA/whitening, distributed as one aggregate.

    ``exact=True`` (the oracle-replayable path) expands each row into
    its d(d+1)/2 upper-triangle products with a row-local Catalyst
    ``transform``/``flatten`` — no Python, map-side combined, decimal
    accumulation so the sums are independent of partitioning and an
    external SQL engine replays them bit-identically.  Per-row expansion
    is O(d²): right for oracle-scale dims (d ≤ a few hundred).

    ``exact=False`` is the 100 TB path: one ``(batch × d)ᵀ @ (batch ×
    d)`` outer-product accumulation per Arrow batch (mapInArrow), ONE
    partial row emitted per batch, then a tiny final aggregate over
    #batches rows — the corpus is read once and never expanded.  Double
    accumulation: at web scale the d² sums differ from the exact path
    only in the last ulps (equivalence pinned in tests).

    Output covariances are 6-digit-truncated (`trunc_digits`) on BOTH
    paths so either can be hash-compared downstream."""
    import numpy as np

    from ..lineage import spread_for_compute

    # the d²/2-fold expansion (exact) / per-batch matmul (arrow) is pure
    # compute: fan a narrow or single-file scan across cores first
    df = spread_for_compute(df.select(_as_double(F.col(vec_col)).alias(vec_col)))
    v = F.col(vec_col)
    if exact:
        first_row = df.select(v.alias("v")).first()
        if first_row is None:
            raise ValueError("covariance_matrix: empty input")
        d = len(first_row["v"])
        # the upper-triangle index list is a PLAN LITERAL (2·d(d+1)/2
        # small ints), so the per-row expansion is ONE flat transform of
        # element_at lookups — the earlier nested transform-over-slice
        # form re-sliced the index array per i (O(d²) array copies per
        # row; measured 3-4× slower at d=64).  r12: the literal is built
        # as ONE parsed SQL expression — constructing d(d+1)/2 struct
        # literals through py4j cost ~4 s of driver time per call at
        # d=32 (the parsed AST is identical), and the expansion carries
        # only (i, j, x_i·x_j): the marginal sums Σx_i / Σx_j are decimal
        # (order-insensitive), so the per-DIM sums computed once from a
        # posexplode are the same exact values the per-PAIR slots held —
        # 40% fewer bytes through the d²-row shuffle, two fewer decimal
        # aggregation buffers per pair (guide §2.3: shuffle fewer bytes).
        pairs_sql = "array({})".format(
            ",".join(
                f"struct({i} as i,{j} as j)"
                for i in range(1, d + 1)
                for j in range(i, d + 1)
            )
        )
        tri = F.transform(
            F.expr(pairs_sql),
            lambda p: F.struct(
                p["i"].alias("i"),
                p["j"].alias("j"),
                (F.element_at(v, p["i"]) * F.element_at(v, p["j"])).alias("xy"),
            ),
        )
        pairs = df.select(F.explode(tri).alias("p")).select(
            F.col("p.i").alias("i"),
            F.col("p.j").alias("j"),
            F.col("p.xy").alias("xy"),
        )
        agg = pairs.groupBy("i", "j").agg(
            F.sum(F.col("xy").cast("decimal(28,12)")).alias("sxy"),
            F.count(F.lit(1)).alias("n"),
        )
        dims = df.select(F.posexplode(v).alias("dim0", "x")).select(
            (F.col("dim0") + 1).alias("dim"), F.col("x")
        )
        dsums = dims.groupBy("dim").agg(
            F.sum(F.col("x").cast("decimal(28,12)")).alias("s")
        )
        # materialize the d-row sum table once (lazy local checkpoint —
        # d ≤ a few hundred rows) so the i-side and j-side broadcast
        # joins below don't each rescan and re-aggregate the corpus;
        # exchange reuse does not dedupe them (the self-join attribute
        # dedup re-aliases the second instance)
        dsums = dsums.localCheckpoint(eager=False)
        b = F.broadcast(dsums)
        agg = (
            agg.join(b, agg["i"] == b["dim"])
            .drop("dim")
            .withColumnRenamed("s", "sxi")
        )
        agg = (
            agg.join(b, agg["j"] == b["dim"])
            .drop("dim")
            .withColumnRenamed("s", "sxj")
        )
        cov = (
            F.col("sxy").cast("double") / F.col("n")
            - (F.col("sxi").cast("double") / F.col("n"))
            * (F.col("sxj").cast("double") / F.col("n"))
        )
        out = agg.select(
            "i", "j", trunc_digits(cov, 6).alias("cov"), F.col("n")
        )
    else:
        from .similarity import _vector_matrix

        first = df.select(v.alias("v")).first()
        if first is None:
            raise ValueError("covariance_matrix: empty input")
        d = len(first["v"])

        def partials(batches):
            import pyarrow as pa

            vec = pa.list_(pa.float64())
            for batch in batches:
                mat, ok = _vector_matrix(batch.column("v"), d, False)
                # a row with a non-finite element stays out of the sums
                m = mat[ok & np.isfinite(mat).all(1)]
                if len(m):
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array([len(m)], pa.int64()),
                            pa.array([m.sum(axis=0).tolist()], vec),
                            pa.array([(m.T @ m).ravel().tolist()], vec),
                        ],
                        names=["n", "sx", "sxx"],
                    )

        parts = (
            df.select(v.alias("v"))
            .mapInArrow(partials, "n long, sx array<double>, sxx array<double>")
            .collect()
        )
        n = sum(p["n"] for p in parts)
        if n == 0:
            raise ValueError("covariance_matrix: no valid vectors")
        sx = np.sum([np.asarray(p["sx"]) for p in parts], axis=0)
        sxx = np.sum(
            [np.asarray(p["sxx"]).reshape(d, d) for p in parts], axis=0
        )
        mean = sx / n
        c = sxx / n - np.outer(mean, mean)
        spark = df.sparkSession
        rows = [
            (i + 1, j + 1, float(np.floor(c[i, j] * 1e6) / 1e6), int(n))
            for i in range(d)
            for j in range(i if upper_only else 0, d)
            if (j >= i or not upper_only)
        ]
        out = spark.createDataFrame(rows, "i int, j int, cov double, n bigint")
    return out


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    exact: bool = False,
    max_dim: int = 2048,
) -> dict:
    """Fit a PCA model distributedly: the d×d covariance is reduced on
    the cluster (see :func:`covariance_matrix`; ``exact=False`` — the
    Arrow partial-outer-product path — is the right default for fitting,
    where the last decimal digit of the covariance is immaterial), the
    d×d eigendecomposition happens on the driver (``numpy.linalg.eigh``
    of a symmetric matrix — milliseconds up to ``max_dim``), and only
    O(d²) numbers ever leave the executors.

    Returns ``{"mean": [d floats], "components": k×d (rows are unit
    eigenvectors, descending eigenvalue), "explained_variance": [k]}``.
    Eigenvector SIGN is normalized (largest-|coefficient| entry made
    positive) so the model is deterministic across BLAS builds."""
    import numpy as np

    first = df.select(_as_double(F.col(vec_col)).alias("v")).first()
    if first is None:
        raise ValueError("pca_fit: empty input")
    d = len(first["v"])
    if d > max_dim:
        raise ValueError(
            f"pca_fit: dim {d} exceeds max_dim {max_dim} — a {d}x{d} "
            "driver eigendecomposition is no longer cheap; raise max_dim "
            "deliberately or reduce with a random projection first"
        )
    cov_rows = covariance_matrix(df, vec_col, exact=exact).collect()
    n = cov_rows[0]["n"] if cov_rows else 0
    c = np.zeros((d, d))
    sums = np.zeros(d)
    for r in cov_rows:
        c[r["i"] - 1, r["j"] - 1] = r["cov"]
        c[r["j"] - 1, r["i"] - 1] = r["cov"]
    # the mean comes from one more tiny aggregate (d rows)
    dims = df.select(F.posexplode(_as_double(F.col(vec_col))).alias("dim", "x"))
    mrows = (
        dims.groupBy("dim")
        .agg(F.sum(F.col("x").cast("decimal(28,12)")).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in mrows:
        sums[r["dim"]] = float(r["s"])
        n = r["n"]
    mean = sums / max(n, 1)
    w, vecs = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:k]
    comps = vecs[:, order].T  # k x d
    for row in comps:
        if row[np.abs(row).argmax()] < 0:
            row *= -1.0
    return {
        "mean": [float(x) for x in mean],
        "components": [[float(x) for x in row] for row in comps],
        "explained_variance": [float(w[o]) for o in order],
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project (and optionally whiten) an embedding column through a
    :func:`pca_fit` model: ``out = (x - mean) @ componentsᵀ`` (each
    output dim divided by sqrt(eigenvalue) when ``whiten`` — the
    SemDeDup-style preconditioning).  Small models (k·d ≤ 4096) run as a
    pure Catalyst expression (zip_with dot per component — plan
    literals, whole-stage codegen); larger ones go through one Arrow
    matmul per batch (:func:`similarity._map_vectors`) with the model on
    a Spark broadcast: a null or wrong-length vector or a null element
    gives a NULL projection there, NaN/Inf elements compute through."""
    import numpy as np

    mean = model["mean"]
    comps = model["components"]
    scales = (
        [1.0 / float(np.sqrt(max(ev, eps))) for ev in model["explained_variance"]]
        if whiten
        else [1.0] * len(comps)
    )
    k, d = len(comps), len(mean)
    v = _as_double(F.col(vec_col))
    if k * d <= 4096:
        mean_arr = F.array(*[F.lit(float(m)) for m in mean])
        centered = F.zip_with(v, mean_arr, lambda x, m: x - m)
        outs = []
        for row, s in zip(comps, scales):
            comp_arr = F.array(*[F.lit(float(c)) for c in row])
            dot = F.aggregate(
                F.zip_with(centered, comp_arr, lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
            outs.append(dot * F.lit(float(s)))
        return df.withColumn(out_col, F.array(*outs))

    from pyspark.sql import types as T

    from .similarity import _map_vectors

    mat = (np.asarray(comps, dtype=np.float64) * np.asarray(scales)[:, None]).T
    mu = np.asarray(mean, dtype=np.float64)
    return _map_vectors(
        df, vec_col, d, out_col, T.ArrayType(T.DoubleType()),
        lambda x, m: ((x - m[0]) @ m[1]).tolist(), (mu, mat),
    )
