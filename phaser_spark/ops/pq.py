"""Product quantization (PQ) — the memory-bounded ANN path (engine
addition; Jégou et al. 2011, "Product quantization for nearest neighbor
search").

A d-dim float vector becomes ``m`` small integer codes (one per
d/m-dim subspace, each the id of the nearest sub-centroid), compressing
4·d bytes to m bytes — at d=1024, m=16 that is a 256× smaller index, the
difference between an ANN index that fits executor memory at 100 TB and
one that doesn't.  Search scores candidates with asymmetric distance
computation (ADC): per query, one (m × k_sub) table of
query-subvector→sub-centroid distances, then each candidate's distance
is m table LOOKUPS instead of d multiplications.

Spark-first shapes:

* ``pq_train`` — deterministic medoid codebook (the ``md5(id)`` draw the
  other quantizers use — exactly replayable by an external SQL oracle)
  or, for better recall, k-means per subspace on a driver sample.
* ``pq_encode`` — one Arrow pass, the shared nearest-centroid kernel
  per subspace: codes equal the literal-fold projection bit-for-bit
  (integer output an oracle can hash exactly) for any codebook size.
* ``pq_topk`` — queries' ADC tables ride a Spark broadcast; each Arrow
  batch of corpus codes computes all query distances with numpy table
  gathers and emits only its per-query top-k CANDIDATES (Q·k rows per
  batch, never batch×Q), then the shared ``_rank_topk`` window settles
  the global answer.  Recall is tuned by m/k_sub and verified against
  the exact scorer in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exceptions import PhaserError
from ..lineage import spread_for_compute


def _check_dims(d: int, m: int) -> int:
    if d % m != 0:
        raise PhaserError(
            f"pq: vector dim {d} is not divisible by m={m} subspaces"
        )
    return d // m


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    method: str = "medoid",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Fit a PQ codebook: ``m × k_sub`` sub-centroids of dim d/m.

    ``method="medoid"`` slices the ``k_sub`` corpus vectors with
    smallest ``md5(id)`` into their m subvectors — deterministic and
    exactly replayable in an external SQL oracle (the same draw
    :func:`similarity.medoid_centroids` uses).  ``method="kmeans"``
    runs Lloyd iterations per subspace on a driver-side sample — better
    codebooks, not oracle-replayable.  Only k_sub vectors (medoid) or
    the sample (kmeans) ever leave the executors."""
    import numpy as np

    first = df.select(F.col(vec_col).cast("array<double>").alias("v")).first()
    if first is None:
        raise PhaserError("pq_train: empty input")
    d = len(first["v"])
    dsub = _check_dims(d, m)
    if method == "medoid":
        from .similarity import medoid_centroids

        base = medoid_centroids(df, id_col, vec_col, k_sub)
        return [
            [list(c[s * dsub : (s + 1) * dsub]) for c in base]
            for s in range(m)
        ]
    if method != "kmeans":
        raise PhaserError(f"pq_train: unknown method {method!r}")
    sample = np.asarray(
        [
            r["v"]
            for r in df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .orderBy(F.md5(F.to_json(F.struct(F.col("v")))))
            .limit(sample_size)
            .collect()
        ]
    )
    rng = np.random.RandomState(seed)
    book = []
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        cents = sub[rng.choice(len(sub), size=min(k_sub, len(sub)), replace=False)]
        for _ in range(iters):
            dist = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for j in range(len(cents)):
                hit = sub[assign == j]
                if len(hit):
                    cents[j] = hit.mean(0)
        book.append([[float(x) for x in c] for c in cents])
    return book


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode vectors to ``array<int>`` of length m (1-based sub-centroid
    ids, squared-L2 argmin per subspace, FIRST minimum wins ties — the
    deterministic rule every quantizer here shares).

    One Arrow pass calls the nearest-centroid kernel
    (:func:`similarity._nearest`) once per subspace, for any codebook
    size: a matmul shortlist re-checked by the strictly sequential
    (a−b)² fold, so the codes equal the literal-fold Catalyst projection
    bit-for-bit.  The codebook rides a Spark broadcast, one array per
    subspace (k_sub may vary by subspace).  Dirty rows: a null vector, a
    vector shorter than m·dsub, or a null element among the first m·dsub
    → NULL code array; extra elements are ignored, and NaN/Inf elements
    compute through (an all-NaN subspace resolves to sub-code 1)."""
    import numpy as np

    from .similarity import _map_vectors, _nearest

    book = [np.asarray(sub, dtype=np.float64) for sub in codebook]
    dsub = book[0].shape[1]

    def encode(mat, bk):
        codes = [
            _nearest(mat[:, s * dsub : (s + 1) * dsub], sub, 1)[:, 0]
            for s, sub in enumerate(bk)
        ]
        return np.stack(codes, axis=1).tolist()

    return _map_vectors(
        df, vec_col, len(book) * dsub, out_col, T.ArrayType(T.IntegerType()),
        encode, book, prefix=True,
    )


def _adc_tables(qmat, book):
    """ADC tables ``[q][s][c] = ‖q_s − book[s][c]‖²`` as (Q × m × k_sub)
    nested lists, each entry the strictly sequential fold the SQL oracle
    replays — the one table builder of :func:`pq_topk` and
    :func:`ivfpq_topk`."""
    from .similarity import _fold_dists_exact

    dsub = len(book[0][0])
    per_sub = [
        _fold_dists_exact(qmat[:, s * dsub : (s + 1) * dsub], sub).tolist()
        for s, sub in enumerate(book)
    ]
    return [list(t) for t in zip(*per_sub)]


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str | None = None,
) -> DataFrame:
    """Approximate top-k nearest neighbors by PQ/ADC squared-L2:
    ``(query_id, neighbor_id, adc_dist, rank)``, rank 1 = smallest
    approximate distance, ties broken by lower neighbor id.

    The corpus side reads CODES (``codes_col`` if already encoded —
    the index shape; otherwise encoded on the fly), m small ints per
    row.  Every query's (m × k_sub) ADC table rides ONE broadcast; each
    Arrow batch gathers all query distances with numpy table lookups
    and emits only its per-query top-k candidates (Q·k rows per batch —
    never the batch×Q cross product), and the shared window settles the
    global top-k.  Query count is assumed index-serving sized (each
    batch holds Q·m·k_sub table floats); shard the query set for
    offline all-pairs jobs."""
    import numpy as np

    from .similarity import _rank_topk, _vector_matrix

    book = np.asarray(codebook, dtype=np.float64)
    m, k_sub, dsub = book.shape
    d = m * dsub
    if codes_col is None:
        enc = pq_encode(
            spread_for_compute(corpus), codebook, vec_col, out_col="__pq"
        )
        codes_src = enc.select(
            F.col(id_col).alias("neighbor_id"), F.col("__pq").alias("codes")
        )
    else:
        codes_src = spread_for_compute(corpus).select(
            F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("codes")
        )
    qrows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    if not qrows:
        raise PhaserError("pq_topk: empty query set")
    qids = np.asarray([r["query_id"] for r in qrows])
    qmat = np.asarray([r["qv"] for r in qrows], dtype=np.float64)
    if qmat.shape[1] != d:
        raise PhaserError(
            f"pq_topk: query dim {qmat.shape[1]} != codebook dim {d}"
        )
    tables = np.asarray(_adc_tables(qmat, book))  # Q × m × k_sub
    bc = codes_src.sparkSession.sparkContext.broadcast((qids, tables))

    def gen(batches):
        import pyarrow as pa

        qids_, tables_ = bc.value
        nq = len(qids_)
        for batch in batches:
            codes, ok = _vector_matrix(batch.column("codes"), m, False)
            ids = batch.column("neighbor_id").filter(pa.array(ok))
            n = len(ids)
            if not n:
                continue
            codes = codes[ok].astype(np.int64) - 1
            # dist[q, row] = sum_s tables[q, s, codes[row, s]]
            dist = np.zeros((nq, n))
            for s in range(tables_.shape[1]):
                dist += tables_[:, s, :][:, codes[:, s]]
            top = min(k, n)
            # per-batch partial top-k per query (provably lossless
            # prefilter for the global top-k window)
            sel = np.argpartition(dist, top - 1, axis=1)[:, :top].ravel()
            q = np.repeat(np.arange(nq), top)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids_[q], pa.int64()),
                    ids.take(pa.array(sel)).cast(pa.int64()),
                    pa.array(dist[q, sel], pa.float64()),
                ],
                names=["query_id", "neighbor_id", "adc_dist"],
            )

    cand = codes_src.mapInArrow(
        gen, "query_id long, neighbor_id long, adc_dist double"
    ).filter(
        ~F.col("query_id").eqNullSafe(F.col("neighbor_id"))
    )
    # reuse the shared ranking tail: it ranks by "cosine" DESC — feed the
    # negated distance and surface the positive distance back
    ranked = _rank_topk(cand.withColumn("cosine", -F.col("adc_dist")), k)
    return ranked.select(
        "query_id",
        "neighbor_id",
        (-F.col("cosine")).alias("adc_dist"),
        "rank",
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    codebook: list[list[list[float]]] | None = None,
    m: int = 8,
    k_sub: int = 16,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011) — the canonical billion-scale ANN
    pipeline, composed entirely from Catalyst primitives:

    1. corpus rows route to their nearest coarse cell
       (:func:`similarity.assign_cells`) and carry their m PQ codes
       (:func:`pq_encode`);
    2. each query ranks its ``n_probe`` nearest cells
       (:func:`similarity.probe_cells`, the same kernel) and carries its
       (m × k_sub) ADC table;
    3. candidates meet in ONE equi-join on the cell id (each query scans
       n_probe/n_centroids of the index), and the approximate distance
       is a pure expression — ``zip_with(codes, tables, (c, t) →
       t[c])`` summed: m array lookups per candidate, no Python, no
       vector data on the probe side;
    4. the shared ranking window keeps k per query (distance asc,
       neighbor id asc).

    With the deterministic medoid quantizers (the defaults) every stage
    — cell routing, codes, tables, lookups, ranking — replays exactly in
    an external SQL oracle.  Returns ``(query_id, neighbor_id, adc_dist,
    rank)``."""
    import numpy as np

    from .similarity import (
        _map_vectors,
        _rank_topk,
        assign_cells,
        medoid_centroids,
        probe_cells,
    )

    cents = centroids or medoid_centroids(corpus, id_col, vec_col, n_centroids)
    book = codebook or pq_train(
        corpus, vec_col, m=m, k_sub=k_sub, id_col=id_col
    )
    base = spread_for_compute(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    coded = pq_encode(
        assign_cells(base, cents, "cv", out_col="cell"), book, "cv",
        out_col="codes",
    ).select("neighbor_id", "cell", "codes")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    # the (small) query set: per-query ADC tables, then its n_probe
    # nearest cells through the same kernel as the corpus side; dirty
    # query vectors get NULL tables and cells and probe nothing
    tables = _map_vectors(
        q, "qv", len(cents[0]), "tables",
        T.ArrayType(T.ArrayType(T.DoubleType())),
        _adc_tables, [np.asarray(sub, dtype=np.float64) for sub in book],
    )
    probed = (
        probe_cells(tables, cents, "qv", n_probe, out_col="__pc")
        .withColumn("cell", F.explode("__pc"))
        .select("query_id", F.col("cell").cast("int"), "tables")
    )
    joined = coded.join(probed, "cell").filter(
        ~F.col("query_id").eqNullSafe(F.col("neighbor_id"))
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("tables"),
            lambda c, t: F.element_at(t, c),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = joined.select("query_id", "neighbor_id", adc.alias("adc_dist"))
    ranked = _rank_topk(
        scored.withColumn("cosine", -F.col("adc_dist")), k
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        (-F.col("cosine")).alias("adc_dist"),
        "rank",
    )
