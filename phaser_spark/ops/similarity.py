"""Similarity search over embedding columns (engine addition;
BASELINE.json north star).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the full corpus; one shuffle for the per-query top-k window.
  The correctness baseline.
* ``lsh_topk`` — the scale path: random-hyperplane signatures bucket the
  corpus; each query signature expands into its Hamming ball (every mask
  with popcount ≤ ``probe_hamming``, a literal array) and EQUI-joins on
  the probed signature — a hash join on the bucket key, never a nested
  loop over N·Q pairs — turning O(N·Q) into O(Q · ball · bucket_size).
  Recall < 1 by construction — verified against the brute-force baseline
  in tests.
"""

from __future__ import annotations

from pyspark.sql import Column as SparkCol
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import PhaserError
from ..lineage import spread_for_compute
from .dedup import _dot, _norm, trunc_digits


def _dot_decimal(a, b):
    """Order-insensitive exact dot product: per-element double products
    (deterministic) accumulated as decimal — bit-identical across engines
    regardless of summation order.  A NULL element (corrupt vector,
    zip_with length-mismatch padding) POISONS the result to NULL, matching
    the default double path — the two modes must return the same pair set,
    not disagree on broken inputs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("decimal(28,12)")),
        F.lit(0).cast("decimal(38,12)"),
        # Spark widens decimal addition results; cast back so the merge
        # lambda's type matches the accumulator's
        lambda acc, v: (acc + v).cast("decimal(38,12)"),
    ).cast("double")


def _vec_norm(exact: bool, vec: SparkCol) -> SparkCol:
    """One-fold-per-vector norm, hoisted by every top-k variant into its
    corpus/query projections (as ``cn``/``qn``) BEFORE the candidate
    join — folding both arrays per candidate PAIR measured ~2× the whole
    scoring leg.  Same fold order as the inline form, so truncated
    cosines (and SQL oracles) are bit-identical."""
    return F.sqrt(_dot_decimal(vec, vec)) if exact else _norm(vec)


def _cosine(exact: bool) -> SparkCol:
    """6-digit-truncated cosine of the ``cv``/``qv`` columns with their
    hoisted ``cn``/``qn`` norms — the single scoring expression every
    top-k variant shares (a tiebreak or truncation change must hit all
    of them identically, since the tests compare the approximate
    variants against ``cosine_topk``)."""
    dot = _dot_decimal if exact else _dot
    return trunc_digits(
        dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")),
        6,
    )


def _rank_topk(scored: DataFrame, k: int, salt_buckets: int = 0) -> DataFrame:
    """Per-query rank over (cosine desc, neighbor_id asc) and keep k —
    the shared tail of every top-k variant.

    ``salt_buckets > 0`` prepends a partial top-k: rows first rank inside
    (query_id, crc32(neighbor_id) % salt_buckets) — every global top-k
    row is also in its bucket's top-k, so keeping k per bucket is a
    provably lossless prefilter — and the final per-query sort sees at
    most ``salt_buckets × k`` survivors instead of the full candidate
    set.  The brute-force exact baseline needs this (its candidate set
    per query IS the corpus — a single-task corpus-sized sort at 100 TB
    otherwise); the LSH/IVF paths skip it (their candidate sets are
    already bounded by the probed buckets/cells, and a second window
    would be pure overhead)."""
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    if salt_buckets > 0:
        bucket = F.pmod(
            F.crc32(F.col("neighbor_id").cast("string")),
            F.lit(salt_buckets),
        )
        wb = Window.partitionBy("query_id", "__tb__").orderBy(*order)
        scored = (
            scored.withColumn("__tb__", bucket)
            .withColumn("__brn__", F.row_number().over(wb))
            .filter(F.col("__brn__") <= k)
            .drop("__tb__", "__brn__")
        )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exact: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Broadcast-joins the query set (must be driver-small) against the
    corpus — no shuffle of the corpus itself; the only shuffle is the
    per-query top-k ranking over Q·N similarity rows, which runs through
    a lossless salted prefilter (rank inside (query, crc32-bucket), keep
    k per bucket) so no task ever sorts a corpus-sized candidate list —
    the final per-query sort sees ≤ 64·k rows.
    ``exact=True`` accumulates dot products in decimal so results are
    bit-reproducible against an external oracle (slower; benchmarking uses
    the double path).

    ``exclude_self=True`` (the default) drops pairs whose query id EQUALS
    the neighbor id — correct when queries are drawn from the corpus and
    share its id namespace.  Pass ``False`` when the two id spaces are
    unrelated (an external query set whose qid 5 must not lose corpus
    vec_id 5 as a neighbor).  The comparison is null-safe, so NULL ids
    never silently drop a row's pairs.
    Returns (query_id, neighbor_id, cosine, rank)."""
    qid = query_id_col or id_col
    c = spread_for_compute(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", _vec_norm(exact, F.col("cv")))
    q = queries.select(
        F.col(qid).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _vec_norm(exact, F.col("qv")))
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(
            ~F.col("query_id").eqNullSafe(F.col("neighbor_id"))
        )
    scored = scored.select(
        "query_id", "neighbor_id", _cosine(exact).alias("cosine")
    )
    return _rank_topk(scored, k, salt_buckets=64)


def deterministic_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Engine-reproducible pseudo-random hyperplanes.

    Component (p, i) = md5(f"{p}-{i}") first 8 hex digits mod 1000 − 500,
    an integer in [−500, 499] — md5 is available and identical in Spark,
    DuckDB, and Python, so the same planes can be reproduced in an external
    oracle.  Integer components keep float·plane products exact in double
    (24-bit × ≤10-bit mantissas), which makes the signature bits
    bit-reproducible across engines when accumulated in decimal."""
    import hashlib

    return [
        [
            float(int(hashlib.md5(f"{p}-{i}".encode()).hexdigest()[:8], 16) % 1000 - 500)
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _plane_signature(vec: SparkCol, planes: int) -> SparkCol:
    """Deterministic random-hyperplane signature (long) of a vector."""
    def plane(seed):
        return F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda i: (
                F.pmod(F.xxhash64(i, F.lit(seed)), F.lit(1000)).cast("double") - 499.5
            ),
        )

    sig = F.lit(0).cast("long")
    for p in range(planes):
        bit = (_dot(vec, plane(p + 7)) > 0).cast("long")
        sig = sig + F.shiftleft(bit, p)
    return sig


def _literal_plane_signature(
    vec: SparkCol, planes_matrix: list[list[float]], exact: bool
) -> SparkCol:
    """Signature from literal plane vectors (no per-row hash evaluation —
    the planes are constants; recomputing them per row, as the seeded-hash
    form does, wastes a hash per (row × plane × dim))."""
    dot = _dot_decimal if exact else _dot
    sig = F.lit(0).cast("long")
    for p, comps in enumerate(planes_matrix):
        plane = F.array(*[F.lit(c) for c in comps])
        bit = (dot(vec, plane) > 0).cast("long")
        sig = sig + F.shiftleft(bit, p)
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    probe_hamming: int = 2,
    planes_matrix: list[list[float]] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Approximate top-k: probe only buckets within Hamming ≤ ``probe_hamming``
    of the query signature.  Same output shape as ``cosine_topk``.

    ``planes_matrix`` (e.g. :func:`deterministic_planes`) supplies literal
    hyperplanes, making the bucketing reproducible in an external SQL
    oracle; ``exact`` switches dot products to decimal accumulation for
    bit-reproducible cosines (slower; the default double path is for
    production throughput)."""
    if planes_matrix is not None:
        sig_of = lambda v: _literal_plane_signature(v, planes_matrix, exact)  # noqa: E731
        n_bits = len(planes_matrix)
    else:
        sig_of = lambda v: _plane_signature(v, planes)  # noqa: E731
        n_bits = planes
    if n_bits > 64:
        raise PhaserError(
            f"lsh_topk: {n_bits} planes exceed the 64-bit long signature — "
            "use <= 64 planes (or band multiple signatures)"
        )
    c = spread_for_compute(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("c_sig", sig_of(F.col("cv"))).withColumn(
        "cn", _vec_norm(exact, F.col("cv"))
    )
    # qn before the Hamming-ball explode: one fold per query, not per probe
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("q_sig", sig_of(F.col("qv"))).withColumn(
        "qn", _vec_norm(exact, F.col("qv"))
    )
    # TRUE bucket probe: expand each query signature into its Hamming
    # ball (every XOR mask with popcount <= probe_hamming — a literal
    # array, the masks depend only on (n_bits, radius)) and EQUI-join on
    # the probed signature.  The old non-equi `bit_count(xor) <= h`
    # predicate planned a nested loop over all N x Q pairs — brute force
    # with the cosine skipped.  Each qualifying pair meets exactly once
    # (the mask c_sig XOR q_sig is unique), so no dedup pass is needed.
    import itertools

    masks = [0]
    for d in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(n_bits), d):
            m = sum(1 << b for b in bits)
            if m >= 1 << 63:
                # signed two's complement: a mask touching bit 63 exceeds
                # LongType max as a Python int and F.lit(m) would fail at
                # plan time; the XOR result is bit-identical either way
                m -= 1 << 64
            masks.append(m)
    if len(masks) > 100_000:
        raise PhaserError(
            f"lsh_topk: Hamming ball of radius {probe_hamming} over "
            f"{n_bits} planes is {len(masks)} probes per query — lower "
            "probe_hamming or the plane count"
        )
    probed = (
        q.withColumn(
            "__mask", F.explode(F.array(*[F.lit(m).cast("long") for m in masks]))
        )
        .withColumn("c_sig", F.col("__mask").bitwiseXOR(F.col("q_sig")))
        .drop("__mask")
    )
    joined = c.join(F.broadcast(probed), "c_sig").filter(
        ~F.col("query_id").eqNullSafe(F.col("neighbor_id"))
    )
    scored = joined.select(
        "query_id", "neighbor_id", _cosine(exact).alias("cosine")
    )
    return _rank_topk(scored, k)


def _sq_dist(vec: SparkCol, centroid: SparkCol) -> SparkCol:
    d = F.zip_with(vec, centroid, lambda x, y: (x - y) * (x - y))
    return F.aggregate(d, F.lit(0.0), lambda acc, v: acc + v)


def _sq_dist_decimal(vec: SparkCol, centroid: SparkCol) -> SparkCol:
    """Order-insensitive squared distance: per-element (x−y)² is a
    deterministic IEEE double on any engine; decimal accumulation removes
    the summation-order dependence, so argmin cell assignment is
    bit-reproducible against an external oracle."""
    d = F.zip_with(vec, centroid, lambda x, y: ((x - y) * (x - y)).cast("decimal(28,12)"))
    # NULL elements poison the distance (same as the double path) —
    # coalescing to 0 would let exact mode assign corrupt vectors to a
    # different cell than the default mode
    return F.aggregate(
        d,
        F.lit(0).cast("decimal(38,12)"),
        lambda acc, v: (acc + v).cast("decimal(38,12)"),
    )


def medoid_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[list[float]]:
    """Deterministic medoid coarse quantizer: the ``n_centroids`` corpus
    vectors with smallest ``md5(id)`` (a reproducible pseudo-random draw —
    same choice on any engine, any partitioning).  Lower quality than
    k-means (:func:`train_centroids`) but exactly reproducible in an
    external SQL oracle; only n_centroids vectors leave the executors."""
    rows = (
        corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> list[list[float]]:
    """Lloyd k-means on a driver-side sample — the IVF coarse quantizer.

    At 100 TB the sample (a few thousand vectors) is the ONLY thing that
    leaves the executors; training is O(sample · k · iters) on the driver
    with numpy, deterministic under ``seed``."""
    import numpy as np

    # deterministic sample: md5-ordered take (limit() alone is
    # partitioning-dependent — same seed, different centroids on a
    # different cluster layout). TakeOrderedAndProject keeps this a
    # per-partition top-k merge, never a full sort.
    sample = np.array(
        [
            r["v"]
            for r in corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy(F.md5(F.to_json(F.struct(F.col("v")))))
            .limit(sample_size)
            .collect()
        ]
    )
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in range(len(cents)):
            m = sample[assign == j]
            if len(m):
                cents[j] = m.mean(0)
    return [[float(x) for x in c] for c in cents]


def _fold_pairs(mat, cents, rows, cells):
    """Squared-L2 distance of each ``(mat[rows[i]], cents[cells[i]])``
    pair, reproducing the Catalyst literal fold (:func:`_sq_dist`)
    BIT-FOR-BIT: per element ``(x−y)·(x−y)``, then a strictly
    sequential left fold from 0.0 (``F.aggregate``'s order; ``np.sum``
    is pairwise and rounds differently in the last ulp).  The loop runs
    over ``dim`` with one gathered vector per step, so memory is
    O(pairs), never a pairs × dim block."""
    import numpy as np

    acc = np.zeros(len(rows))
    with np.errstate(over="ignore", invalid="ignore"):
        for x, c in zip(mat.T, cents.T):
            diff = x[rows] - c[cells]
            acc = acc + diff * diff
    return acc


def _fold_dists_exact(mat, cents):
    """(n × k) literal-fold distances of every row to every cell — the
    PQ ADC-table builder."""
    import numpy as np

    rows, cells = np.divmod(np.arange(len(mat) * len(cents)), len(cents))
    return _fold_pairs(mat, cents, rows, cells).reshape(len(mat), len(cents))


def _nearest(mat, cents, n):
    """The nearest-centroid kernel: each row's ``n`` nearest 1-based cell
    ids, an (rows × n) array ranked exactly as the literal fold ranks
    them — :func:`_fold_pairs` distance ascending, NaN after every
    number, ties to the lower cell id (``array_position(d,
    array_min(d))`` at n=1, ``array_sort(struct(d, cell))`` beyond; an
    all-NaN distance row is cell 1).

    Shortlist: one ``(rows × dim) @ (dim × k)`` matmul gives
    s = ‖c‖² − 2x·c, the distance minus the row constant ‖x‖².  Both
    s + ‖x‖² (s in any BLAS order) and the fold lie within γ·(‖x‖+‖c‖)²
    of the exact distance, γ = (dim+2)u / (1 − (dim+2)u), u = 2⁻⁵³, so every
    cell whose fold distance can reach the n-th smallest has s within
    4γ·(‖x‖ + max‖c‖)² of the n-th smallest s.  The tolerance doubles
    that to cover the rounding of the bound itself and adds a subnormal
    term for underflow.  Exact re-check: the fold runs on the
    shortlisted cells only (n cells plus exact ties, on real data).
    Fallback: a row whose scores or bound are not finite (NaN/Inf
    elements, overflow, a non-finite centroid) shortlists every cell,
    which makes its ranking the full fold.  Rows go through in blocks
    of ~4M scores, so memory is O(block), never rows × k × dim."""
    import numpy as np

    dim, k = mat.shape[1], len(cents)
    n = min(n, k)
    gamma = (dim + 2) * 2.0**-53 / (1 - (dim + 2) * 2.0**-53)
    cent_sq = (cents * cents).sum(axis=1)
    cent_max = np.sqrt(cent_sq.max())
    step = max(1, (1 << 22) // k)
    out = [np.zeros((0, n), dtype=np.int64)]
    for lo in range(0, len(mat), step):
        x = mat[lo : lo + step]
        with np.errstate(all="ignore"):
            score = cent_sq - 2.0 * (x @ cents.T)
            bound = (np.sqrt((x * x).sum(axis=1)) + cent_max) ** 2
            fast = np.isfinite(score).all(axis=1) & np.isfinite(4.0 * bound)
            nth = np.partition(
                np.where(fast[:, None], score, 0.0), n - 1, axis=1
            )[:, n - 1]
            tol = 8.0 * gamma * bound + (dim + 1) * 2.0**-1070
            keep = ~fast[:, None] | (score <= (nth + tol)[:, None])
        rows, cells = np.nonzero(keep)
        d = _fold_pairs(x, cents, rows, cells)
        nan = np.isnan(d)
        order = np.lexsort((cells, np.where(nan, 0.0, d), nan, rows))
        counts = keep.sum(axis=1)
        first = np.cumsum(counts) - counts
        out.append(cells[order][first[:, None] + np.arange(n)] + 1)
    return np.concatenate(out)


def _vector_matrix(col, dim, prefix):
    """(rows × dim) float64 matrix of an Arrow list column, plus the mask
    of rows that fold: not a null vector, length ``dim`` (with
    ``prefix``, at least ``dim``; extra elements are ignored) and no
    null element among the first ``dim``.  Other rows are zero rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = col.cast(pa.list_(pa.float64()))
    n = len(arr)
    # flatten() skips null vectors, whose length reads 0 here
    lens = pc.list_value_length(arr).fill_null(0).to_numpy()
    flat = arr.flatten()
    start = np.cumsum(lens) - lens
    ok = arr.is_valid().to_numpy(zero_copy_only=False)
    ok &= lens >= dim if prefix else lens == dim
    pos = np.arange(len(flat)) - np.repeat(start, lens)
    null_el = flat.is_null().to_numpy(zero_copy_only=False) & (pos < dim)
    ok &= np.bincount(np.repeat(np.arange(n), lens)[null_el], minlength=n) == 0
    mat = np.zeros((n, dim))
    rows = np.flatnonzero(ok)
    mat[rows] = flat.to_numpy(zero_copy_only=False)[
        start[rows, None] + np.arange(dim)
    ]
    return mat, ok


def _append_columns(df, fields, fn):
    """One ``mapInArrow`` pass appending the columns of ``fields`` (a
    ``StructType``), whose values ``fn(batch)`` returns as one list per
    column — the shell of every vector worker.  The input columns pass
    through as Arrow, never converted.

    A column already named like a field is replaced in place, as
    ``withColumn`` does: it is dropped up front (else the output schema
    would list it twice while the batch carries it once, an Arrow
    serializer crash) and the column order is restored after."""
    from pyspark.sql.pandas.types import to_arrow_type

    types = [(f.name, to_arrow_type(f.dataType)) for f in fields]
    replaced = [f.name for f in fields if f.name in df.columns]
    order = df.columns + [f.name for f in fields if f.name not in replaced]
    if replaced:
        df = df.drop(*replaced)

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            for (name, typ), values in zip(types, fn(batch)):
                batch = batch.append_column(name, pa.array(values, type=typ))
            yield batch

    out = df.mapInArrow(gen, T.StructType(df.schema.fields + fields.fields))
    return out.select(*order) if replaced else out


def _map_vectors(df, vec_col, dim, out_col, out_type, fn, payload, prefix=False):
    """One Arrow pass appending ``out_col = fn(mat, payload)`` through
    :func:`_append_columns` — the shared shell of every kernel consumer.
    ``payload`` (centroids, a codebook) rides a Spark broadcast, landing
    on each executor once rather than with every task.  ``fn`` gets the
    batch as an (rows × dim) float64 matrix and returns one value per
    row.

    The dirty-row rule lives here (:func:`_vector_matrix`): a null
    vector, a wrong length or a null element gives NULL; NaN/Inf
    elements compute through ``fn``."""
    bc = df.sparkSession.sparkContext.broadcast(payload)

    def column(batch):
        mat, ok = _vector_matrix(batch.column(vec_col), dim, prefix)
        return [[v if g else None for v, g in zip(fn(mat, bc.value), ok)]]

    fields = T.StructType([T.StructField(out_col, out_type)])
    return _append_columns(df, fields, column)


def assign_cells(
    df: DataFrame, centroids: list[list[float]], vec_col: str, out_col: str = "cell",
    dist_fn=None,
) -> DataFrame:
    """Nearest-centroid cell id: squared-L2 argmin, FIRST minimum wins
    ties (mirror `ORDER BY dist, cell LIMIT 1` in SQL), 1-based ids.

    One Arrow pass through the :func:`_nearest` kernel for every k: a
    matmul shortlist re-checked by the exact fold, so the cell is
    BIT-IDENTICAL to the literal ``zip_with``/``aggregate`` expression
    (:func:`_sq_dist`) at matmul speed, with the centroid matrix on a
    Spark broadcast instead of O(k·dim) plan literals.  Dirty rows: a
    null / wrong-length vector or a null element → NULL cell; NaN/Inf
    elements compute through (an all-NaN distance row is cell 1).

    ``dist_fn`` (e.g. the decimal-exact fold) pins the literal
    expression path — bit-reproducibility of DECIMAL folds is not
    representable in numpy doubles; ``dist_fn=_sq_dist`` is the literal
    double fold the kernel reproduces."""
    if dist_fn is not None:
        vec = F.col(vec_col).cast("array<double>")
        cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
        dists = F.transform(cent_arr, lambda c: dist_fn(vec, c))
        return df.withColumn(
            out_col, F.array_position(dists, F.array_min(dists)).cast("int")
        )
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    return _map_vectors(
        df, vec_col, cent.shape[1], out_col, T.IntegerType(),
        lambda mat, c: _nearest(mat, c, 1)[:, 0].tolist(), cent,
    )


def probe_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    n_probe: int,
    out_col: str = "cells",
) -> DataFrame:
    """Top-``n_probe`` nearest-centroid ids per row as an ``array<int>``
    — the query-side twin of :func:`assign_cells`, through the same
    :func:`_nearest` kernel: literal-fold distance ascending, NaN after
    every number, ties to the lower cell id (the literal
    ``array_sort(struct(d, cell))`` rule).  Dirty rows get a NULL list,
    so an ``explode`` gives them no probe rows."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    return _map_vectors(
        df, vec_col, cent.shape[1], out_col, T.ArrayType(T.IntegerType()),
        lambda mat, c: _nearest(mat, c, n_probe).tolist(), cent,
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    exact: bool = False,
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus partitioned into
    nearest-centroid cells; each query scores only its ``n_probe`` nearest
    cells.

    Scale path: the candidate join is an equi-join on ``cell`` — the
    corpus shuffles once by cell id (or is pre-bucketed by it), each query
    reads n_probe/n_centroids of the data.  Corpus cells come from
    :func:`assign_cells` and query probes from :func:`probe_cells` — the
    one nearest-centroid kernel for any centroid count; the *probe* side
    (n_queries × n_probe rows, query vectors included) is broadcast only
    when ``broadcast_queries`` is True or the query count is provably
    small — for large query sets leave it None and let AQE pick the join
    strategy.  Same output shape as ``cosine_topk``; recall tuned by
    ``n_probe``.  ``exact`` uses decimal accumulation for distances and
    cosines so the result is bit-reproducible against an external
    oracle; it pins the literal-expression fold for both centroid
    consumers."""
    cents = centroids or train_centroids(corpus, vec_col, n_centroids)
    base = spread_for_compute(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    sq = _sq_dist_decimal if exact else None
    c = assign_cells(base, cents, "cv", dist_fn=sq).withColumn(
        "cn", _vec_norm(exact, F.col("cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _vec_norm(exact, F.col("qv")))
    # n_probe nearest cells per query, exploded to (query, cell) probe rows
    if exact:
        qvec = F.col("qv")
        cent_arr = F.array(*[F.array(*[F.lit(x) for x in c_]) for c_ in cents])
        dists = F.transform(cent_arr, lambda ce: sq(qvec, ce))
        cells = F.transform(
            F.slice(
                F.array_sort(
                    F.zip_with(
                        dists,
                        F.sequence(F.lit(1), F.lit(len(cents))),
                        lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
                    )
                ),
                1,
                n_probe,
            ),
            lambda s: s["cell"],
        )
        probes = q.withColumn("__pc", cells)
    else:
        probes = probe_cells(q, cents, "qv", n_probe, out_col="__pc")
    probes = probes.withColumn("cell", F.explode("__pc")).select(
        "query_id", "qv", "qn", F.col("cell").cast("int")
    )
    if broadcast_queries:
        probes = F.broadcast(probes)
    joined = c.join(probes, "cell").filter(
        ~F.col("query_id").eqNullSafe(F.col("neighbor_id"))
    )
    scored = joined.select(
        "query_id", "neighbor_id", _cosine(exact).alias("cosine")
    )
    return _rank_topk(scored, k)


def recall_at_k(
    exact: DataFrame,
    approx: DataFrame,
    query_id_col: str = "query_id",
    neighbor_id_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one — the standard tuning loop for the ANN family: sweep ``n_probe``
    (IVF) or ``probe_hamming``/plane count (LSH) and read recall@k
    directly, instead of eyeballing neighbor lists.

    Both inputs are top-k result frames in the shared output shape of
    ``cosine_topk``/``lsh_topk``/``ivf_topk`` (query_id, neighbor_id,
    cosine, rank) — ``exact`` from the brute-force baseline over a
    bounded evaluation query sample, ``approx`` from the candidate path
    under test.  recall = |approx ∩ exact| / |exact| per query; queries
    the approximate path missed entirely still appear (n_hit 0, recall
    0.0), and ties at the boundary follow each input's own deterministic
    (cosine desc, id asc) rule, so the metric is reproducible run to run.

    Scale: both inputs are already ≤ |queries|·k rows by construction —
    everything here is a broadcast-sized join and a per-query count."""
    e = exact.select(
        F.col(query_id_col).alias("__r_qid__"),
        F.col(neighbor_id_col).alias("__r_nid__"),
    )
    a = approx.select(
        F.col(query_id_col).alias("__r_qid__"),
        F.col(neighbor_id_col).alias("__r_nid__"),
        F.lit(1).alias("__r_hit__"),
    )
    joined = e.join(a, ["__r_qid__", "__r_nid__"], "left")
    return (
        joined.groupBy(F.col("__r_qid__").alias(query_id_col))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__r_hit__").alias("n_hit"),
            (
                F.count("__r_hit__").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("recall"),
        )
    )


def kmeans_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 4,
    init_centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Fully distributed Lloyd's k-means over the WHOLE corpus (contrast
    :func:`train_centroids`, which trains on a driver-side sample —
    right when a few thousand vectors approximate the distribution;
    this is right when you need the exact corpus-wide fixpoint of each
    round, e.g. for reproducible IVF cells or SemDeDup clusters shared
    across runs).

    Per round: assignment is :func:`assign_cells` — the one
    nearest-centroid kernel, bit-identical to the literal k×dim fold
    projection at every k (``dist_fn=_sq_dist`` there pins the literal
    Catalyst form when a Python-free plan is required) — and the update
    is
    :func:`phaser_spark.ops.embeddings.group_centroids` — posexplode +
    per-(cell, dim) decimal means with map-side combine.  Only the k
    centroid vectors visit the driver each round; the corpus never
    does.  A cell that loses all members keeps its previous centroid
    (deterministic; no re-seeding).

    Deterministic end to end: medoid init (md5-ordered — same draw on
    any engine/partitioning), first-min argmin assignment, decimal
    means — so the full iteration is replayable by an external SQL
    oracle.  Returns the centroid list after ``iters`` rounds; assign
    with :func:`assign_cells`.
    """
    from .embeddings import group_centroids

    cents = init_centroids or medoid_centroids(corpus, id_col, vec_col, k)
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    for _ in range(iters):
        assigned = assign_cells(base, cents, "v", out_col="cell")
        updated = {
            int(r["cell"]): [float(x) for x in r["centroid"]]
            for r in group_centroids(assigned, "cell", "v").collect()
        }
        # cells are 1-based (array_position); empty cells carry over
        cents = [updated.get(i + 1, c) for i, c in enumerate(cents)]
    return cents
