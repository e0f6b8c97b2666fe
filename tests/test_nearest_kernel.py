"""Property test: every consumer of the nearest-centroid kernel
(``similarity._nearest``) equals the literal Catalyst fold
(``similarity._sq_dist`` inside ``transform``/``array_min``/
``array_sort``) at every cell count, on tie-heavy and dirty rows.

Rows: points on a centroid (including a duplicated centroid), midpoints
between two centroids and their 1-ulp perturbations, random points, NaN,
+Inf and -Inf elements, an all-NaN vector, a null element, ragged
vectors (one short, one long) and a null vector.  Consumers:
``assign_cells``, ``probe_cells`` (n_probe 1, 4 and k), ``pq_encode``
(k as the sub-codebook size) and ``ivfpq_topk``."""

import math
import random

import pytest
from pyspark.sql import functions as F

from phaser_spark.ops import pq, similarity

DIM = 8
KS = [1, 2, 16, 64, 65, 300]


def _centroids(k):
    rng = random.Random(k)
    cents = [[round(rng.gauss(0, 1), 3) for _ in range(DIM)] for _ in range(k)]
    if k > 2:
        cents[k // 2] = list(cents[0])  # duplicated centroid
    return cents


def _rows(cents):
    rng = random.Random(len(cents) + 1000)
    k = len(cents)
    vecs = [list(c) for c in cents[:6]]  # on a centroid
    for _ in range(8):
        a, b = cents[rng.randrange(k)], cents[rng.randrange(k)]
        mid = [(x + y) / 2 for x, y in zip(a, b)]
        vecs.append(mid)
        vecs.append([math.nextafter(x, math.inf) for x in mid])
        vecs.append([math.nextafter(x, -math.inf) for x in mid])
    vecs += [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(20)]
    special = [
        [math.nan] + [0.5] * (DIM - 1),
        [0.5] * (DIM - 1) + [math.inf],
        [-math.inf] + [0.5] * (DIM - 1),
        [math.nan] * DIM,
        [0.5, None] + [0.5] * (DIM - 2),  # null element
        [0.5] * (DIM - 1),  # short
        list(cents[0]) + [9.0],  # long
        None,
    ]
    return list(enumerate(vecs + special))


def _literal_dists(vec, cents):
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    return F.transform(cent_arr, lambda c: similarity._sq_dist(vec, c))


def _literal_cell(vec, cents):
    d = _literal_dists(vec, cents)
    return F.array_position(d, F.array_min(d)).cast("int")


def _literal_ranking(vec, cents, n):
    ranked = F.array_sort(
        F.zip_with(
            _literal_dists(vec, cents),
            F.sequence(F.lit(1), F.lit(len(cents))),
            lambda d, i: F.struct(d.alias("d"), i.alias("cell")),
        )
    )
    return F.transform(F.slice(ranked, 1, n), lambda s: s["cell"])


def _book(cents):
    half = DIM // 2
    return [[c[:half] for c in cents], [c[half:] for c in cents]]


def _literal_codes(vec, book):
    dsub = len(book[0][0])
    codes = F.array(
        *[
            _literal_cell(F.slice(vec, s * dsub + 1, dsub), sub)
            for s, sub in enumerate(book)
        ]
    )
    # the literal fold nulls single codes; the operator nulls the array
    return F.when(~F.exists(codes, lambda c: c.isNull()), codes)


@pytest.mark.parametrize("k", KS)
def test_kernel_consumers_equal_literal_fold(spark, k):
    cents = _centroids(k)
    book = _book(cents)
    df = spark.createDataFrame(_rows(cents), "id long, v array<double>")
    v = F.col("v")
    probes = sorted({1, 4, k})
    out = similarity.assign_cells(df, cents, "v", out_col="cell")
    for n in probes:
        out = similarity.probe_cells(out, cents, "v", n, out_col=f"probe{n}")
    out = pq.pq_encode(out, book, "v", out_col="codes")
    ref_cell = _literal_cell(v, cents)
    out = out.withColumn("ref_cell", ref_cell).withColumn(
        "ref_codes", _literal_codes(v, book)
    )
    for n in probes:
        # the literal sort order of a null-poisoned row is no contract;
        # the operator's is a NULL list (dirty rows probe nothing)
        out = out.withColumn(
            f"ref_probe{n}",
            F.when(ref_cell.isNotNull(), _literal_ranking(v, cents, n)),
        )
    rows = out.collect()
    assert len(rows) == len(_rows(cents))
    dirty = {r.id for r in rows if r.ref_cell is None}
    assert len(dirty) == 4  # null element, short, long, null vector
    for r in rows:
        assert r.cell == r.ref_cell, r
        for n in probes:
            assert r[f"probe{n}"] == r[f"ref_probe{n}"], (n, r)
        assert r.codes == r.ref_codes, r
    # the long vector keeps its codes (extra elements are ignored) but
    # gets no cell; NaN/Inf rows get a cell at every k
    by_id = {r.id: r for r in rows}
    long_id = max(by_id) - 1
    assert by_id[long_id].cell is None and by_id[long_id].codes is not None
    nan_inf = [r for r in rows if r.v and any(
        x is not None and not math.isfinite(x) for x in r.v
    )]
    assert len(nan_inf) == 4 and all(r.cell is not None for r in nan_inf)
    assert [r.cell for r in nan_inf if all(math.isnan(x) for x in r.v)] == [1]


def _literal_ivfpq(corpus, queries, cents, book, n_probe, k):
    """ivfpq_topk written with literal folds only: cell routing, codes,
    probe ranking and ADC tables, then the operator's own join, lookup
    fold and ranking."""
    cv, qv = F.col("cv"), F.col("qv")
    coded = corpus.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv")
    ).select(
        "neighbor_id",
        _literal_cell(cv, cents).alias("cell"),
        _literal_codes(cv, book).alias("codes"),
    )
    dsub = len(book[0][0])
    tables = F.array(
        *[
            _literal_dists(F.slice(qv, s * dsub + 1, dsub), sub)
            for s, sub in enumerate(book)
        ]
    )
    probed = (
        queries.select(F.col("id").alias("query_id"), F.col("v").alias("qv"))
        .filter(_literal_cell(qv, cents).isNotNull())
        .select(
            "query_id",
            F.explode(_literal_ranking(qv, cents, n_probe)).alias("cell"),
            tables.alias("tables"),
        )
    )
    adc = F.aggregate(
        F.zip_with("codes", "tables", lambda c, t: F.element_at(t, c)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = (
        coded.join(probed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc_dist"))
    )
    ranked = similarity._rank_topk(scored.withColumn("cosine", -F.col("adc_dist")), k)
    return ranked.select("query_id", "neighbor_id", "rank")


# the all-literal IVFADC costs ~8 s per k: the fast tier keeps k=65, just
# past the old 64-cell switch, and the oracle tier runs every k
@pytest.mark.parametrize(
    "k", [k if k == 65 else pytest.param(k, marks=pytest.mark.oracle) for k in KS]
)
def test_ivfpq_topk_equals_literal_fold(spark, k):
    cents = _centroids(k)
    book = _book(cents)
    rows = _rows(cents)
    df = spark.createDataFrame(rows, "id long, v array<double>")
    # every NaN/Inf/dirty query plus a few clean ones
    queries = df.filter((F.col("id") % 7 == 0) | (F.col("id") >= len(rows) - 8))
    got = pq.ivfpq_topk(
        df, queries, k=3, id_col="id", vec_col="v", n_probe=4,
        centroids=cents, codebook=book,
    )
    want = _literal_ivfpq(df, queries, cents, book, 4, 3)
    g = {(r.query_id, r.rank): r.neighbor_id for r in got.collect()}
    w = {(r.query_id, r.rank): r.neighbor_id for r in want.collect()}
    assert g == w and g
    # dirty queries (null element, short, long, null vector) probe nothing
    assert not {q for q, _ in g} & set(range(len(rows) - 4, len(rows)))
