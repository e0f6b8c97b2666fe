"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine (engine additions; BASELINE.json north star).

Scale design notes (the whole point of these implementations):

* **exact_dedup** — one hash-shuffle on the dedup key; keep-first/last via
  a window ordered by the lineage column, not a global sort.
* **ngram_jaccard_pairs** — exact pairwise Jaccard via an inverted index
  (explode shingles → self-join on shingle → count per pair).  The
  ``max_shingle_df`` guard drops ultra-frequent shingles (stopword runs)
  that would otherwise create quadratic skew on a single join key — the
  classic hot-key problem at 100 TB.
* **minhash_lsh_pairs** — the scale path: constant-size signatures
  (``num_perm`` permutations via seeded xxhash64), banded into
  ``num_bands`` buckets; only same-bucket docs ever meet (join on
  (band, bucket-hash)), then candidates are verified with exact Jaccard.
  Recall for sim ≥ t is 1-(1-t^r)^b; with 128 perms / 32 bands ≈ .999 at
  t=0.8.
* **simhash** — 64-bit signature computed entirely in Catalyst (explode →
  64 conditional sums → bit-assemble): no UDF, map-side combinable.
* **embedding_dup_pairs** — cosine near-dup via random-hyperplane LSH
  bucketing with exact verification inside buckets.

Cache ownership: ``simhash_pairs``/``minhash_lsh_pairs``/
``minhash_lsh_incremental`` (and ``ngram_jaccard_pairs`` with
``cache_index=True``) pin small per-doc signature tables for the
duration of the computation; in a LONG-LIVED session calling these
repeatedly, clear them between calls (``spark.catalog.clearCache()`` or
unpersist the returned frame's lineage) — each call otherwise leaves one
pinned signature table behind.
"""

from __future__ import annotations

from pyspark.sql import Column as SparkCol
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import PHASER_ROW_NUM
from ..exceptions import PhaserError
from ..lineage import spread_for_compute
from .text import normalize_text


def trunc_digits(col: SparkCol, n: int) -> SparkCol:
    """Truncate a double to ``n`` decimal digits via floor(x·10ⁿ)/10ⁿ.
    Unlike ``round()``, this is bit-reproducible across engines: both
    operate on the same binary double, no tie-breaking mode involved
    (Spark's round consults the shortest decimal representation, DuckDB's
    the binary value — they disagree on boundary values).

    Magnitude guard: Spark's ``floor(double)`` returns a LONG that clamps
    at 2⁶³, which would collapse every huge value to the same number.
    Above double's 2⁵² integer-precision the truncation is mathematically
    the identity anyway, so values whose scaled form exceeds 2⁶² pass
    through unchanged instead of clamping."""
    scale = float(10**n)
    scaled = col * scale
    return F.when(
        F.abs(scaled) < F.lit(2.0**62), F.floor(scaled) / F.lit(scale)
    ).otherwise(col)

# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, columns: list[str], keep: str = "first", order_col: str | None = None
) -> DataFrame:
    """Exact dedup on ``columns``; deterministic winner per group.

    ``keep='first'|'last'`` by ``order_col`` (defaults to the lineage
    column if present, else a stable hash of all columns)."""
    if keep not in ("first", "last"):
        # anything else silently meant 'last' — the OPPOSITE record
        # survived a typo like keep='First'
        raise PhaserError(f"exact_dedup: keep must be 'first'/'last', got {keep!r}")
    oc = order_col or (PHASER_ROW_NUM if PHASER_ROW_NUM in df.columns else None)
    if oc is None:
        df = df.withColumn("__xdd_ord__", F.xxhash64(*[F.col(c) for c in df.columns]))
        oc = "__xdd_ord__"
    order = F.col(oc).asc() if keep == "first" else F.col(oc).desc()
    w = Window.partitionBy(*columns).orderBy(order)
    out = (
        df.withColumn("__xdd_rn__", F.row_number().over(w))
        .filter(F.col("__xdd_rn__") == 1)
        .drop("__xdd_rn__")
    )
    return out.drop("__xdd_ord__") if "__xdd_ord__" in out.columns else out


# --------------------------------------------------------------------------
# shingling + exact n-gram Jaccard
# --------------------------------------------------------------------------

def shingles_from_words(words: SparkCol, n: int = 3) -> SparkCol:
    """Distinct word ``n``-gram shingles from an already-split word array.

    ``words`` must be a plain column *attribute* (see
    :func:`staged_words`), never an inline ``split(...)`` expression: a
    lambda body re-evaluates every non-attribute subexpression per array
    element, turning shingling O(words²·regex) — measured 8× slower on the
    test corpus."""
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(0), F.size(words) - n)
    ).otherwise(F.sequence(F.lit(0), F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    return F.array_distinct(sh)


def shingles(col: SparkCol, n: int = 3) -> SparkCol:
    """Distinct word ``n``-gram shingles of the normalized text.

    Ad-hoc single-expression form; bulk paths should stage the word split
    in its own projection first (:func:`staged_words` +
    :func:`shingles_from_words`) so the tokenization isn't re-evaluated
    per shingle position."""
    return shingles_from_words(F.split(normalize_text(col), " "), n)


def staged_words(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, words)`` with normalization+tokenization materialized once.

    r12 (guide §2.5, input skew): the spread exchange must sit BELOW the
    tokenizing projection, not above it — a projection written under the
    repartition executes in the SCAN stage, and a single-row-group
    parquet file yields a single scan task, so the regex normalization
    of the whole corpus ran on ONE core (measured 1.6 s of the 2.5 s
    signature build at sf0.1).  Spreading the raw ``(id, text)`` rows
    first fans the regex across cores.  ``words`` stays its own
    projection above the exchange so downstream per-element lambdas see
    it as a column attribute; CollapseProject does not inline non-cheap
    expressions referenced more than once, which keeps the tokenization
    single-evaluation (plan-checked in tests).

    r13 (guide §2.4): the fan-out hashes on ``id`` instead of
    round-robin.  Every consumer that aggregates per document —
    simhash's ``groupBy(id, w)`` + ``groupBy(id)``, minhash's
    per-doc signature, the span/surprisal ``groupBy(id)`` passes —
    then inherits HashPartitioning(id), which satisfies their
    ClusteredDistribution, so the fan-out exchange doubles as the
    aggregation exchange and the per-doc aggregates run shuffle-free
    (simhash: 3 exchanges → 1 in the signature build).  Hash placement
    is per row exactly like round-robin (one doc = one row), and the
    keyed form skips round-robin's defensive pre-shuffle sort."""
    base = spread_for_compute(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__sw_text")),
        by="id",
    )
    return base.select(
        "id", F.split(normalize_text(F.col("__sw_text")), " ").alias("words")
    )


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int, max_shingle_df: int | None
) -> DataFrame:
    """(id, shingle) inverted index, with hot-shingle suppression."""
    idx = staged_words(df, id_col, text_col).select(
        "id", F.explode(shingles_from_words(F.col("words"), n)).alias("sh")
    )
    if max_shingle_df:
        # drop shingles appearing in more than max_shingle_df docs: they
        # contribute little to Jaccard but quadratic join fan-out
        hot = (
            idx.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        idx = idx.join(F.broadcast(hot), "sh", "left_anti")
    return idx


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
    cache_index: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard ≥ t).

    Inverted-index self-join: cost is Σ df(shingle)² — a single shingle
    appearing in d documents emits d² candidate pairs, so an unguarded hot
    shingle (a stopword run) is THE quadratic scale-killer of this
    operator at 100 TB.  ``max_shingle_df`` therefore defaults to a cap
    (1000 ⇒ ≤10⁶ pairs per shingle); pass ``None`` only for small corpora
    where exact Jaccard against every shingle is required.  Dropping a
    shingle with df > 1000 changes Jaccard of an affected pair by at most
    1/|union|, and only pairs sharing that near-universal shingle are
    affected.  Returns ``(id_a, id_b, jaccard double)``.

    The shingle index feeds two consumers (per-doc sizes and the posting
    lists).  The default RECOMPUTES it per consumer: the build is pure
    codegen (regex + explode) that pipelines into each consumer's shuffle,
    and measurements show recompute beats a memory-and-disk persist even
    at bench scale (2.13 s vs 2.41 s at sf0.1) — while at 100 TB a pinned
    corpus-sized index would claim the whole cluster's storage memory.
    Pass ``cache_index=True`` only when the upstream of ``df`` is itself
    expensive (a join or UDF chain worth not re-running twice)."""
    from pyspark import StorageLevel

    idx = _shingle_index(df, id_col, text_col, n, max_shingle_df)
    if cache_index:
        idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = idx.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # pair generation via posting-list combinations: one shuffle on the
    # shingle key, pairs emitted per posting list — avoids the index×index
    # hash join (the per-shingle pair blow-up is identical, but the join
    # build side and probe traffic disappear)
    postings = (
        idx.groupBy("sh")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    inter = (
        postings.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            trunc_digits(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signature(col: SparkCol, num_perm: int = 128, n: int = 3) -> SparkCol:
    """MinHash signature (array<bigint>) as a single expression.

    NOTE: higher-order array functions don't whole-stage-codegen; for bulk
    signing use :func:`minhash_signatures` (explode + codegen aggregates),
    which is an order of magnitude faster.  This form exists for ad-hoc
    per-column use."""
    sh = shingles(col, n)
    # SAME permutation family as the bulk :func:`minhash_signatures`
    # (seeded xxhash64 over the 64-bit string-hash base): signatures
    # from either form band/compare against each other — two silently
    # incompatible families would yield zero candidate pairs
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_perm)),
        lambda seed: F.array_min(
            F.transform(sh, lambda s: F.xxhash64(F.xxhash64(s), seed))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    n: int = 3,
) -> DataFrame:
    """Bulk MinHash: explode shingles once, then ``num_perm`` seeded
    ``min(xxhash64(sh, seed))`` aggregates in ONE groupBy — all inside
    whole-stage codegen with map-side partial aggregation.  Returns
    ``(id, sig array<bigint>)``.  This is the scale path: the shuffle
    carries only (id × num_perm longs), never the shingle text."""
    sh = staged_words(df, id_col, text_col).select(
        "id", F.explode(shingles_from_words(F.col("words"), n)).alias("sh")
    )
    # hash the variable-length shingle string ONCE; the permutation family
    # re-hashes the fixed-width 64-bit base (xxhash64 over 8 bytes), which
    # is an order of magnitude cheaper than 128 string hashes per shingle
    sh = sh.select("id", F.xxhash64("sh").alias("base"))
    # r13 (the simhash/pca construction medicine): ONE parsed SQL
    # expression assembles the signature array around all num_perm MIN
    # aggregates — the functions form built 128 separate agg Columns
    # plus a 128-column array through py4j (~500 round trips of pure
    # driver time per query construction).  Same resolved aggregates,
    # same values.
    sig_sql = "array(" + ", ".join(
        f"min(xxhash64(base, {seed}))" for seed in range(1, num_perm + 1)
    ) + ")"
    return sh.groupBy("id").agg(F.expr(sig_sql).alias("sig"))


def minhash_bands(
    sigs: DataFrame, num_bands: int = 32, num_perm: int = 128
) -> DataFrame:
    """Banding table ``(id, band, bucket)`` from a signature table
    ``(id, sig array<bigint>)`` — ``num_bands`` hashes of
    ``num_perm/num_bands``-row signature slices.

    This is the table worth PERSISTING between pipeline runs (32 longs per
    doc): an incremental ingest joins new docs' bands against the stored
    corpus bands instead of re-signing the corpus (see
    :func:`minhash_lsh_incremental`)."""
    if num_bands < 1 or num_perm % num_bands != 0:
        # silent flooring would drop trailing permutations (a different
        # recall curve than requested); num_bands > num_perm degenerates
        # to zero-length slices whose hash is one constant -> the band
        # join becomes an all-pairs N^2 explosion
        raise PhaserError(
            f"minhash_bands: num_perm ({num_perm}) must be a positive "
            f"multiple of num_bands ({num_bands})"
        )
    rows_per_band = num_perm // num_bands
    return sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    F.xxhash64(
                        F.slice(F.col("sig"), band * rows_per_band + 1, rows_per_band)
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 128,
    num_bands: int = 32,
    n: int = 3,
    verify: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding; candidates verified with exact
    Jaccard when ``verify`` (the production setting).

    Returns ``(id_a, id_b, jaccard)`` (estimated signature similarity when
    ``verify=False``)."""
    sig = minhash_signatures(df, id_col, text_col, num_perm, n)
    # the banding table is consumed by both sides of a self-join: pin it so
    # signatures are computed once, not once per join branch.  r13: the pin
    # is an eager localCheckpoint (was cache()) — same stored rows (128
    # longs per doc), but it also TRUNCATES the plan, so the self-join and
    # every AQE replan analyze a LogicalRDD instead of two copies of the
    # 128-aggregate signature tree (the simhash medicine; that repeated
    # driver-side analysis was the non-parallelizing half of this query).
    sig = sig.localCheckpoint()
    bands = minhash_bands(sig, num_bands, num_perm)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if not verify:
        sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        est = F.size(F.array_intersect("sig_a", "sig_b")).cast("double") / F.lit(
            float(num_perm)
        )
        return (
            cand.join(sig_a, "id_a").join(sig_b, "id_b")
            .select("id_a", "id_b", trunc_digits(est, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # shingle sets feed both sides of the candidate join but are NOT
    # cached: the build is pure codegen that pipelines into each join
    # branch (measured faster than a persist at sf0.1 — 2.24s vs 2.70s —
    # and the shingle table is text-sized, the one thing never to pin at
    # 100 TB).  The signature cache above is different: 128 longs per doc,
    # ~1000× smaller than the text, and its recompute is the whole
    # explode+128-aggregate pipeline.
    sh_df = staged_words(df, id_col, text_col).select(
        "id", shingles_from_words(F.col("words"), n).alias("sh")
    )
    ta = sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    tb = sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", trunc_digits(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 128,
    num_bands: int = 32,
    n: int = 3,
) -> DataFrame:
    """Linear-size CONNECTIVITY edges from MinHash-LSH buckets — the
    dup-heavy-corpus feeder for :func:`phaser_spark.ops.sampling.
    leakage_safe_split` and anything else that only needs connected
    components, not the pair list.

    ``minhash_lsh_pairs`` self-joins each (band, bucket) group, which is
    quadratic in copies-per-cluster: a 1000-copy boilerplate cluster
    emits ~500k pairs per band before dedup.  Components never need
    that — a star per bucket (every member → the bucket's min id)
    connects the identical component set with ≤ ``num_bands`` edges per
    document, linear at any duplication rate.  The trade is honesty
    about precision: bucket edges are UNVERIFIED candidates (no Jaccard
    check — verification is inherently pairwise and would reintroduce
    the quadratic stage), so false-positive buckets over-merge
    clusters.  For a leakage guard that is the conservative direction
    (rows that only might be near-dups still land in the same split);
    do NOT use these edges where pair precision matters — that is what
    ``minhash_lsh_pairs(verify=True)`` is for.

    Returns ``(id_a, id_b)`` with ``id_a`` the bucket hub (min id),
    distinct, singleton buckets emitting nothing.

    The hub lookup is a ``groupBy`` + equi-join rather than a
    ``partitionBy(band, bucket)`` window on purpose: the whole point of
    this function is mega-buckets, and a window materializes each
    bucket in ONE task (unsplittable), while the aggregate map-side
    combines and AQE's skew-join splitting handles the join back onto
    a hot bucket key.
    """
    sig = minhash_signatures(df, id_col, text_col, num_perm, n)
    bands = minhash_bands(sig, num_bands, num_perm)
    hubs = bands.groupBy("band", "bucket").agg(F.min("id").alias("hub"))
    return (
        bands.join(hubs, ["band", "bucket"])
        .filter(F.col("id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("id").alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates, keeping the smallest id of each dup cluster
    (single-link via the pair list).  Clustering is
    ``ops.graph.connected_components`` — fixpoint min-label propagation
    with pointer-jumping, O(log diameter) rounds, per-round cache
    discipline (see that module's docstring for the 100 TB rationale)."""
    from .graph import connected_components

    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, **kw)
    labels = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        vertices=df.select(id_col),
        id_col=id_col,
        component_col="__root__",
    )
    # the final labels frame is cached by connected_components (one
    # (id, root) row per doc) so this lazy semi-join doesn't re-run the
    # propagation when the caller executes it
    keep = labels.filter(F.col(id_col) == F.col("__root__")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def pick_cluster_representative(
    df: DataFrame,
    cluster_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Keep ONE row per cluster: the highest ``score_col``, ties broken
    by the greater ``id_col`` (a total order, so the pick is
    deterministic on any engine).

    One shuffle on ``cluster_col`` + a per-cluster sort (dup clusters
    are small by construction), vs. the groupBy-argmax-then-join form
    which pays the aggregation shuffle AND a second join shuffle over
    the full frame."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).desc()
    )
    rn = "__rep_rn__"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def minhash_dedup_keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "quality",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Near-dedup that keeps the BEST document of each dup cluster
    instead of the smallest id — the form a training-data pipeline
    actually wants (drop the low-quality mirror, keep the clean
    original).  Same LSH candidate generation + connected components as
    :func:`minhash_dedup`; the representative is the cluster's max
    ``score_col`` (ties → greater id, deterministic)."""
    from .graph import connected_components

    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold, **kw)
    labels = connected_components(
        pairs.select("id_a", "id_b"),
        src="id_a",
        dst="id_b",
        vertices=df.select(id_col),
        id_col=id_col,
        component_col="__root__",
    )
    labeled = df.join(labels, id_col)
    return pick_cluster_representative(
        labeled, "__root__", score_col, id_col
    ).drop("__root__")


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 128,
    num_bands: int = 32,
    n: int = 3,
    corpus_sigs: DataFrame | None = None,
    verify: bool = True,
) -> DataFrame:
    """Incremental near-dup detection: pairs ``(id_a, id_b, jaccard)``
    where at least ONE side is a new document — new×corpus and new×new,
    never corpus×corpus (those were found when the corpus was ingested).

    This is the repeated-ingest idiom of a training-data pipeline: the
    corpus is re-fed daily with a small delta, and re-running the full
    self-join re-pays O(corpus) signature work plus a corpus×corpus
    candidate join for pairs that are already known.  Incremental cost
    instead scales with the DELTA:

    * only ``new_docs`` are shingled and signed this run — pass
      ``corpus_sigs`` (the persisted ``(id, sig)`` table from prior runs,
      128 longs/doc, ~1000× smaller than the text) and the corpus text is
      never re-read for signing; without it the corpus is re-signed once
      (correct, just not incremental on that leg);
    * the candidate join probes new bands against corpus∪new bands — an
      equi-join on (band, bucket) whose left side is delta-sized;
    * exact-Jaccard verification re-reads text only for docs that appear
      in some candidate pair (the join against the shingle table is
      candidate-driven, and column pruning keeps the scan to id+text).

    Band/bucket layout matches :func:`minhash_lsh_pairs` exactly (same
    shingling, same signature family, same banding), so a bands table
    persisted from a full run (``minhash_bands``) is directly reusable.
    Ids must be unique across corpus∪new.
    """
    new_sigs = minhash_signatures(new_docs, id_col, text_col, num_perm, n)
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus, id_col, text_col, num_perm, n)
    # pin only the delta-sized side; corpus bands stream through the join.
    # r13: eager localCheckpoint (was cache()) — same stored rows, and the
    # banding/verify consumers analyze a LogicalRDD instead of re-analyzing
    # the 128-aggregate signature tree per consumer (the lsh medicine)
    new_sigs = new_sigs.localCheckpoint()
    new_bands = minhash_bands(new_sigs, num_bands, num_perm)
    all_bands = minhash_bands(corpus_sigs, num_bands, num_perm).unionByName(new_bands)
    cand = (
        new_bands.alias("x")
        .join(
            all_bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") != F.col("y.id")),
        )
        .select(
            F.least(F.col("x.id"), F.col("y.id")).alias("id_a"),
            F.greatest(F.col("x.id"), F.col("y.id")).alias("id_b"),
        )
        .distinct()
        # candidate pairs are delta-sized; pinned because three consumers
        # (the id restriction below and both verify join branches) would
        # otherwise each re-run the band join.  r13: eager localCheckpoint
        # so each consumer plans over the pinned rows, not the full
        # corpus-band-join subtree
        .localCheckpoint()
    )
    if not verify:
        sig_all = corpus_sigs.unionByName(new_sigs)
        sig_a = sig_all.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
        sig_b = sig_all.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
        est = F.size(F.array_intersect("sig_a", "sig_b")).cast("double") / F.lit(
            float(num_perm)
        )
        return (
            cand.join(sig_a, "id_a").join(sig_b, "id_b")
            .select("id_a", "id_b", trunc_digits(est, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    docs_all = corpus.select(
        F.col(id_col), F.col(text_col)
    ).unionByName(new_docs.select(F.col(id_col), F.col(text_col)))
    # restrict BEFORE shingling: without the semi-join the shingle
    # projection sits below the pair join and is evaluated for every
    # corpus row; with it, only docs that appear in some candidate pair
    # (delta-scaled) pay normalization+shingling
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs_all = docs_all.join(cand_ids, id_col, "left_semi")
    sh_df = staged_words(docs_all, id_col, text_col).select(
        "id", shingles_from_words(F.col("words"), n).alias("sh")
    )
    ta = sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    tb = sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", trunc_digits(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    word_hash: str = "md5",
) -> DataFrame:
    """64-bit SimHash per document, computed entirely in Catalyst:
    explode words → per-bit ones-counts packed two lanes per long (32
    aggregates + a total, all map-side combined) → reassemble bits.
    Returns ``(id, simhash long)``.

    ``word_hash='md5'`` (default) derives a 60-bit word hash from the
    first 15 hex digits of md5 — reproducible on any engine (DuckDB,
    Spark, Python compute identical md5), so signatures can be verified
    by an external SQL oracle; bits 60–63 of the signature are then
    always 0, which leaves Hamming distances and the 16-bit-chunk
    blocking unaffected.  ``word_hash='xxhash64'`` uses the full-width
    Spark-native hash (engine-specific).

    Occurrences collapse to (id, word, count) first — the word hash runs
    once per distinct word PER DOCUMENT and the ±1 bit sums are
    count-weighted, exactly equal to per-occurrence summation at Zipf-law
    cost (per-doc vocab ≪ token stream).  Hashing inline on the (id,
    word, count) rows beats the hash-the-corpus-vocabulary-and-join
    alternative at every scale that matters: the join needs a distinct
    over the corpus vocabulary plus a shuffle of the full count table on
    the word key (the vocabulary of a 100 TB corpus is billions of terms
    — never broadcastable), while the inline hash is pure map-side CPU
    that whole-stage-codegens into the same stage as the count aggregate
    (measured 1.8× end-to-end on the bench corpus, and the gap widens
    with corpus size).  Both aggregations map-side combine."""
    if word_hash not in ("md5", "xxhash64"):
        # a typo would silently switch hash families and break the
        # caller's external-oracle reproducibility
        raise PhaserError(
            f"simhash: word_hash must be 'md5'/'xxhash64', got {word_hash!r}"
        )
    # r13 (guide §1.2 step 2 / the pca_covariance r12 medicine): every
    # expression below is built as ONE parsed SQL string per column
    # instead of nested pyspark.sql.functions calls.  The functions form
    # cost 3.7-5.9 s of pure py4j round trips PER QUERY CONSTRUCTION at
    # steady state (profiled: stages totalled ~1.3 s of a ~5 s run; the
    # rest was driver-side, and construct/analyze/plan decomposition put
    # it squarely in construction) — driver-bound work that no executor
    # core count can touch, which is exactly why the r12 driver measured
    # a 0.96 8→32-core ratio on this query.  The SQL strings parse in a
    # handful of py4j calls and produce the SAME resolved expressions
    # (oracle-parity + pair-set tests pin the results bit-for-bit).
    if word_hash == "md5":
        h_sql = "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)"
    else:
        h_sql = "xxhash64(w)"
    words = staged_words(df, id_col, text_col).select(
        "id", F.explode(F.col("words")).alias("w")
    )
    wc = words.groupBy("id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    hashed = wc.select("id", "cnt", F.expr(h_sql).alias("h"))
    # Lane packing: bit i's ONES count (non-negative, unlike the ±1 sum)
    # rides the low 32 bits and bit i+32's the high 32 bits of one long, so
    # 64 bit positions need 32 aggregation buffers plus one total instead
    # of 64 — measured 1.6× on the signature stage, and buffer update cost
    # is the whole stage at Zipf row counts.  Sign recovery is exact:
    # sum(±cnt) > 0  ⟺  2·ones > total.  Lane sums are bounded by the
    # per-document word count; the 2³¹ guard below keeps lane carries
    # impossible (a >2-billion-word single document would be ~10 GB of
    # text in one row — reject loudly rather than corrupt the high lane).
    packed = [
        F.expr(
            f"sum((shiftright(h, {i}) & 1) * cnt"
            f" + shiftleft((shiftright(h, {i + 32}) & 1) * cnt, 32))"
        ).alias(f"p{i}")
        for i in range(32)
    ]
    sums = hashed.groupBy("id").agg(*packed, F.sum("cnt").alias("tot"))
    # The guarded total is projected ONCE (__tot2__): the old form
    # inlined the whole raise_error CASE into all 64 bit comparisons,
    # which multiplied the expression tree 64-fold for zero semantic
    # difference (the guard still raises on the first evaluated row of
    # an overflowing document, and sane totals pass through unchanged).
    guard_sql = (
        "CASE WHEN tot >= CAST(2147483648 AS BIGINT) THEN "
        "CAST(raise_error(concat('simhash: document ', CAST(id AS STRING), "
        "' has >= 2^31 words -- 32-bit lane packing would overflow; "
        "split the document or hash a sample')) AS BIGINT) "
        "ELSE tot END"
    )
    guarded = sums.select(
        "id", *[f"p{i}" for i in range(32)], F.expr(guard_sql).alias("__tot2__")
    )
    sig_terms = []
    for i in range(32):
        sig_terms.append(
            f"(CASE WHEN (p{i} & 4294967295) * 2 > __tot2__ "
            f"THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE 0 END)"
        )
        sig_terms.append(
            f"(CASE WHEN shiftright(p{i}, 32) * 2 > __tot2__ "
            f"THEN shiftleft(CAST(1 AS BIGINT), {i + 32}) ELSE 0 END)"
        )
    sig_sql = "CAST(0 AS BIGINT) + " + " + ".join(sig_terms)
    return guarded.select("id", F.expr(sig_sql).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    word_hash: str = "md5",
) -> DataFrame:
    """Near-dup pairs with Hamming distance ≤ k between SimHashes.

    Scale path: block on 4 16-bit chunks (pigeonhole: any pair within
    Hamming ≤ 3 shares at least one exact chunk), so the self-join is on
    chunk equality, never all-pairs.  The blocking is exact, not
    approximate — an all-pairs scan (the oracle formulation) returns the
    identical pair set.

    The signature table feeds BOTH sides of the self-join: materialize
    it eagerly so the explode/hash/64-agg pipeline runs once —
    lazily-cached common subplans race when both join-branch stages
    launch concurrently (measured 2× on the bench corpus).  r13: the pin
    is an EAGER ``localCheckpoint`` rather than ``cache()+count()`` —
    same stored rows, but the checkpoint also TRUNCATES the plan, so the
    self-join (and every AQE replan of it) analyzes a two-column
    LogicalRDD instead of two full copies of the 32-packed-aggregate
    signature tree; profiled at sf0.1, stage wall time was ~1.9 s of a
    5.2 s run and the rest was exactly this repeated driver-side
    analysis.  The materialized table is (id, simhash) — 16 bytes per
    doc, safe at any corpus size; the checkpoint job is the signature
    build step, analogous to IVF centroid training."""
    if not 0 <= max_hamming <= 3:
        # pigeonhole over 4 chunks is EXACT only for distance <= 3; a
        # larger radius would silently return an incomplete pair set
        # (a 4-bit-apart pair can differ in every chunk)
        raise PhaserError(
            f"simhash_pairs: max_hamming must be in [0, 3] for 4-chunk "
            f"blocking, got {max_hamming} — raise the chunk count or use "
            "an all-pairs verify for larger radii"
        )
    sh = simhash(df, id_col, text_col, word_hash=word_hash).localCheckpoint()
    chunks = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    # r12 (guide §2.4): the old shape joined on chunk equality alone,
    # then paid a full Exchange+HashAggregate to `.distinct()` every
    # candidate pair (a pair within Hamming ≤ 3 shares up to 4 chunks)
    # and only filtered the Hamming radius afterwards.  Both signatures
    # ride the join row, so the radius test AND a first-matching-chunk
    # rule belong in the join condition itself: a qualifying pair is
    # emitted exactly once (by the lowest chunk whose 16 bits agree),
    # which deletes the dedup shuffle outright, and far pairs never
    # leave the join.  The pair set is provably identical.
    xor = F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    first_match = F.when(
        xor.bitwiseAND(F.lit(0xFFFF)) == 0, F.lit(0)
    )
    for i in range(1, 4):
        first_match = first_match.when(
            F.shiftright(xor, 16 * i).bitwiseAND(F.lit(0xFFFF)) == 0,
            F.lit(i),
        )
    hamming = F.bit_count(xor)
    cand = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.id") < F.col("y.id"))
            & (hamming <= F.lit(max_hamming))
            & (F.col("x.chunk") == first_match),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            hamming.alias("hamming"),
        )
    )
    return cand


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------

def _dot(a: SparkCol, b: SparkCol) -> SparkCol:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: SparkCol) -> SparkCol:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    planes_matrix: list[list[float]] | None = None,
    exact: bool = False,
) -> DataFrame:
    """Cosine near-dup pairs via random-hyperplane LSH bucketing with
    exact verification inside buckets.  Returns (id_a, id_b, cosine).

    Default planes come from seeded per-dimension hashes (Spark-native);
    pass ``planes_matrix`` (e.g. ``similarity.deterministic_planes``) for
    hyperplanes reproducible in an external SQL oracle, and ``exact`` for
    decimal-accumulated dots (bit-identical cosines across engines)."""
    # ONE hyperplane-signature implementation, shared with
    # ops.similarity's LSH top-k (same seeds, same component formula) —
    # a drifting private copy would silently make the two modules'
    # buckets incompatible.  Bucketing with default (seeded-hash) planes
    # is double-precision either way — the bucket choice only affects
    # recall; `exact` governs the VERIFICATION cosines below, and the
    # literal-planes form (the oracle-reproducible path) honors it for
    # the signature bits too.
    from .similarity import (
        _dot_decimal,
        _literal_plane_signature,
        _plane_signature,
    )

    base = spread_for_compute(df).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    dot = _dot_decimal if exact else _dot
    norm = (lambda a: F.sqrt(_dot_decimal(a, a))) if exact else _norm
    bucket = (
        _literal_plane_signature(F.col("v"), planes_matrix, exact)
        if planes_matrix is not None
        else _plane_signature(F.col("v"), planes)
    )
    # norm hoisted to one fold per VECTOR (same fold order → identical
    # truncated cosine); folding both arrays per candidate PAIR measured
    # ~2× the whole verification leg in the semantic_dedup twin
    sig = base.withColumn("bucket", bucket).withColumn("n", norm(F.col("v")))
    cand = (
        sig.alias("x")
        .join(
            sig.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.v").alias("va"),
            F.col("y.v").alias("vb"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return cand.select("id_a", "id_b", trunc_digits(cos, 6).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    n_cells: int = 16,
    threshold: float = 0.95,
    cell_out: str | None = None,
    target_cell_rows: int | None = None,
    approx_n: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    with a coarse quantizer, compare pairs only WITHIN a cluster, and
    drop every vector that has a better-ranked semantic near-duplicate
    (cosine ≥ ``threshold``) in its cluster — smaller id wins, the same
    keep-min rule as :func:`minhash_dedup`, so the survivor set is
    deterministic with no connected-components pass (if a < b < c form a
    chain, b and c both see a lower-id near-dup and only a survives in
    that chain's cluster).

    ``centroids`` defaults to :func:`similarity.medoid_centroids` —
    deterministic, engine-reproducible (an external SQL oracle can
    replay cell assignment exactly).  Pass
    ``similarity.train_centroids`` output for better-balanced cells.

    Returns the surviving rows of ``df``; with ``cell_out`` the assigned
    cell id is appended (cast long).

    Scale: the in-cell self-join is an equi-join on the cell id, so pair
    work is Σ|cell|² — with a FIXED ``n_cells`` that is n²/k, i.e.
    QUADRATIC in corpus size (the round-11 10× smoke measured exactly
    this: 3.3 s → 188 s for 10× the vectors at n_cells=16).  Pass
    ``target_cell_rows`` instead — THE RECOMMENDED MODE for any corpus
    whose size you don't control — to apply the IVF rule automatically:
    ``n_cells = n / target_cell_rows`` (clamped to [16, 65536]), making
    pair work ≈ n·target — LINEAR in n.  Sizing needs n, so this mode
    runs ONE EXTRA COUNTING PASS over ``df`` at plan-build time (eager
    ``df.count()``); on a 100 TB uncached upstream either cache/
    checkpoint the input first or pass ``approx_n`` (any estimate of the
    row count — shard-manifest totals, a prior pass's count; cell
    sizing only needs the right order of magnitude) to skip the count
    entirely.  Assignment is :func:`similarity.assign_cells`, the one
    nearest-centroid kernel (a matmul shortlist re-checked by the exact
    fold, centroid matrix broadcast) at any cell count.  Never all-pairs
    across cells; the hyperplane-LSH variant
    (:func:`embedding_dup_pairs`) is the alternative when even linear
    in-cell work must shrink."""
    from .similarity import assign_cells, medoid_centroids

    if target_cell_rows is not None:
        if target_cell_rows < 1:
            raise PhaserError(
                f"semantic_dedup: target_cell_rows must be >= 1, got "
                f"{target_cell_rows}"
            )
        n = approx_n if approx_n is not None else df.count()
        n_cells = max(16, min(65536, (n + target_cell_rows - 1) // target_cell_rows))
    if centroids is None:
        centroids = medoid_centroids(df, id_col, vec_col, n_cells)
    sel = df.select(
        F.col(id_col).alias("__sd_id"),
        F.col(vec_col).cast("array<double>").alias("__sd_v"),
    )
    cells = assign_cells(sel, centroids, "__sd_v", out_col="__sd_cell")
    # hoist the norm to one fold per VECTOR: computing it inside the pair
    # projection re-folds both 64-element arrays per PAIR — measured 2× the
    # whole scoring leg at sf0.1.  Same fold order per vector, so the
    # truncated cosine (and the SQL oracle) stays bit-identical.
    cells = cells.withColumn("__sd_n", _norm(F.col("__sd_v")))
    x = cells.select(
        F.col("__sd_id").alias("ida"),
        F.col("__sd_v").alias("va"),
        F.col("__sd_n").alias("na"),
        F.col("__sd_cell").alias("cell"),
    )
    y = cells.select(
        F.col("__sd_id").alias("idb"),
        F.col("__sd_v").alias("vb"),
        F.col("__sd_n").alias("nb"),
        F.col("__sd_cell").alias("cell"),
    )
    cos = trunc_digits(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    dropped = (
        x.join(y, "cell")
        .filter(F.col("idb") < F.col("ida"))
        .withColumn("__sd_cos", cos)
        .filter(F.col("__sd_cos") >= threshold)
        .select(F.col("ida").alias("__sd_id"))
        .distinct()
    )
    # reuse the single cell assignment for the output instead of
    # re-assigning survivors: one kernel pass per vector, not two
    survivors = cells.select("__sd_id", "__sd_cell").join(
        dropped, "__sd_id", "left_anti"
    )
    if cell_out:
        keyed = survivors.select(
            F.col("__sd_id").alias(id_col),
            F.col("__sd_cell").cast("long").alias(cell_out),
        )
        return df.join(keyed, id_col)
    return df.join(
        survivors.select(F.col("__sd_id").alias(id_col)), id_col, "left_semi"
    )
