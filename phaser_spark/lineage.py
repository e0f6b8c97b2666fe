"""Row-number lineage — stable, 1-based, scale-safe.

Parity target: the reference assigns every row a stable 1-based ``row_num``
at load time and preserves it through phases and checkpoints
(``phaser/records.py:8,18-107``); rows added later get ``max+1`` numbers
(``phaser/records.py:60-92``); ``renumber=True`` phases re-assign from 1
(``phaser/phase.py:120-124``).

Scale design (SURVEY.md §4.2 "Stable row numbering at ingest"): a global
``row_number()`` window is a single-task bottleneck at 100 TB.  Instead we
exploit the documented layout of ``monotonically_increasing_id()`` —
partition id in the upper 31 bits, per-partition record index in the lower
33 bits — to derive (partition, local index) with **zero shuffle**, count
rows per partition in one small aggregate, prefix-sum those counts on
the driver (one scalar per partition), and add the offset back as one
constant array literal indexed by partition id.  Total cost: one extra
pass over the data, no global sort, no single-reducer stage, no join.  In
Spark jobs: the count costs 2 (the AQE map stage and the result); the
offsets ride in the task binary, so later actions over the numbered plan
pay nothing more.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .constants import PHASER_ROW_NUM

_PID = "__phaser_pid__"
_LOCAL = "__phaser_local__"
_MID_LOCAL_MASK = (1 << 33) - 1


def _is_deterministic_narrow_plan(df: DataFrame) -> bool:
    """True when the optimized plan is a pure deterministic scan — file
    relation / local relation / range plus narrow projections and filters.
    Such a plan yields the same (partition, row) layout on every execution,
    so the two passes of the numbering trick (count job + final job) agree
    WITHOUT pinning the input.  Anything that shuffles, samples, or calls a
    nondeterministic expression is conservatively reported unsafe."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    # NOTE what is deliberately NOT unsafe here:
    #  * Sort — a range exchange over a deterministic input is itself
    #    deterministic at the partition level: boundary sampling is seeded
    #    per partition index, and equal keys land in the same range
    #    partition, so the count job and the numbering job see identical
    #    per-partition row sets even when tie order varies.
    #  * an earlier numbering — its offsets are a folded literal, not a
    #    join, so a renumber() on top of it sees the input's own layout
    #    and needs no re-pinning.
    #  * broadcast-hinted Join — the stream side never shuffles, so its
    #    row layout is exactly the (recursively checked) input's.
    #  * monotonically_increasing_id — deterministic exactly when the
    #    partition layout is, which is what the rest of this check
    #    establishes (it is the numbering trick's own premise).
    # A cached input (InMemoryRelation) is pinned again: when the numbered
    # frame is itself cached (a Pipeline without working_dir caches each
    # phase), Spark skips final-stage AQE coalescing inside the cache, so
    # a Sort's range exchange is 1 partition in the count job and 8 in the
    # cached numbering.  Pinning the sorted input makes both read one
    # layout.
    unsafe = (
        "InMemoryRelation",
        "Repartition", "RebalancePartitions", "Aggregate",
        "Window", "Sample", "Deduplicate", "Limit", "Expand", "Generate",
        "rand(", "randn(", "uuid(", "shuffle(",
        "spark_partition_id", "input_file",
    )
    if any(tok in plan for tok in unsafe):
        return False
    for line in plan.splitlines():
        if "Join" in line and "strategy=broadcast" not in line:
            # a shuffled (sort-merge / shuffled-hash) join loses in-partition
            # arrival order across executions
            return False
    return "Relation" in plan or "Range" in plan or "LogicalRDD" in plan


#: DataFrames pinned (cached) for stable numbering by callers that did not
#: supply their own ``pins`` list (standalone API use).  Pipelines scope
#: pins to their Context (``Context.pinned_inputs``) so one pipeline's
#: checkpoint can never unpersist another pipeline's still-unmaterialized
#: numbered input — releasing THIS list wholesale is only safe in
#: single-pipeline sessions.
_PINNED: list = []


def release_pinned(pins: list | None = None) -> None:
    """Unpersist every input pinned by :func:`with_row_numbers`.

    ``pins`` drains a caller-scoped list (a pipeline's
    ``Context.pinned_inputs``); without it the module-global standalone
    list is drained.  Safe ONLY after the numbered plan has been
    materialized (parquet checkpoint / bucketed table write): the pin
    exists so the counts job and the final numbering observe one
    partitioning, and that guarantee must hold until the numbers are
    durably written.
    """
    target = _PINNED if pins is None else pins
    while target:
        try:
            target.pop().unpersist()
        except Exception:
            pass


def with_row_numbers(
    df: DataFrame, start: int = 1, cache: bool | None = None, pins: list | None = None
) -> DataFrame:
    """Attach ``__phaser_row_num__`` in current partition/row order.

    ``cache`` pins the input so the per-partition counts and the final
    numbering observe the same partitioning.  The default (``None``)
    decides automatically: a deterministic pure-scan plan is NOT pinned —
    file scans repeat identically and a ``.cache()`` of a 100 TB input is
    itself a scale-killer (storage pressure, eviction nondeterminism) —
    while any shuffled/sampled input is.  Pass ``True``/``False`` to
    force (e.g. ``False`` for a post-shuffle plan you know you will only
    materialize once and whose order you don't rely on).
    """
    if PHASER_ROW_NUM in df.columns:
        return df
    return _number_rows(df, lambda: start, cache, pins)[0]


def _number_rows(
    df: DataFrame, start, cache: bool | None, pins: list | None
) -> tuple[DataFrame, int]:
    """:func:`with_row_numbers` over an unnumbered ``df``, and the number
    of rows its per-partition count found.  ``start()`` gives the first
    number; it is called only when that count finds rows, so a caller
    whose start costs a read (``Pipeline.run_stream``) skips it for an
    empty input."""
    if cache is None:
        cache = not _is_deterministic_narrow_plan(df)
    if cache:
        df = df.cache()
        # registered for release at the next phase checkpoint — without
        # this every numbering over a shuffled plan pins a DataFrame for
        # the session's lifetime and a long pipeline fills executor
        # storage (the exact failure the docstring above warns about).
        # ``pins`` scopes the registration to the owning pipeline/batch.
        (_PINNED if pins is None else pins).append(df)
    mid = F.monotonically_increasing_id()
    tagged = df.withColumn(_PID, F.shiftrightunsigned(mid, 33).cast("long")).withColumn(
        _LOCAL, (mid.bitwiseAND(F.lit(_MID_LOCAL_MASK))).cast("long")
    )
    # Rows per partition (map-side combine; result is n_partitions rows
    # on the driver): 2 Spark jobs, the AQE map stage and the result.
    counts = dict(
        tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    # offsets[pid] = first number of partition pid; a partition the counts
    # saw empty gets null, so rows appearing there later fail the task
    # an empty input takes no numbers, so its start is never read
    first = start() if counts else 1
    offsets, running = [], first
    for pid in range(max(counts, default=-1) + 1):
        cnt = counts.get(pid)
        offsets.append(running if cnt else None)
        running += cnt or 0
    # one string literal (one py4j call at any partition count) that
    # ConstantFolding turns into an array<bigint> literal: it ships in the
    # task binary, with no join and no broadcast job
    table = F.from_json(F.lit(json.dumps(offsets)), "array<bigint>")
    pid = F.col(_PID)
    offset = F.coalesce(
        F.try_element_at(table, (pid + 1).cast("int")),
        F.raise_error(
            F.concat(
                F.lit("row numbering: partition "),
                pid.cast("string"),
                F.lit(" was empty or absent when its rows were counted "
                      "(the input's partition layout changed)"),
            )
        ),
    )
    numbered = tagged.withColumn(
        PHASER_ROW_NUM, (offset + F.col(_LOCAL)).cast("long")
    ).drop(_PID, _LOCAL)
    return numbered, running - first


def spread_for_compute(
    df: DataFrame, target: int | None = None, by: str | None = None
) -> DataFrame:
    """Repartition a *narrow* input before CPU-heavy per-row work.

    A parquet file with a single row group yields a single input split no
    matter how small ``maxPartitionBytes`` is, so an expensive projection
    (shingling, casting, hashing) after such a scan runs on ONE core.  On a
    real cluster large inputs already arrive well-split and this is a no-op
    — the guard makes the repartition cost strictly local to the
    small-input case.  Row-order-sensitive work (lineage numbering) must
    happen *before* this call.

    ``by`` (r13, guide §2.4): hash-partition on that column instead of
    round-robin.  When downstream aggregations group by ``by`` (or by
    ``by`` plus more columns — HashPartitioning on a PREFIX of the
    grouping keys satisfies ClusteredDistribution), the fan-out exchange
    doubles as THEIR exchange and EnsureRequirements inserts no further
    shuffle; round-robin satisfies nothing, so every downstream
    aggregation pays its own full exchange on top.  A keyed repartition
    also skips the defensive local sort round-robin pays for
    deterministic retries (``spark.sql.execution.sortBeforeRepartition``)
    — hash assignment is already deterministic per row.  Skew note: both
    forms place each ROW atomically, so one huge row skews either way;
    ``by`` only adds the usual hash-collision variance, negligible when
    distinct keys ≫ partitions (guide §2.5).

    The default target is ``defaultParallelism / 2``, not the full core
    count: measured on local[32], allocation-heavy projections (decimal
    casts, higher-order array lambdas) *degrade* past ~16 concurrent
    threads in one JVM (GC/allocator contention — 600k-row cast projection:
    3.8s at 16-way, 17s at 32-way), while 8–16-way delivers the expected
    speedup.  Multi-executor clusters run few cores per JVM and never hit
    this regime.
    """
    sc = df.sparkSession.sparkContext
    target = target or max(2, sc.defaultParallelism // 2)
    if _estimated_partitions(df) >= target:
        return df
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)


def _estimated_partitions(df: DataFrame) -> int:
    """Estimate the plan's scan parallelism WITHOUT ``df.rdd`` — the RDD
    conversion forces full physical planning plus Python-serializer setup
    and costs 0.4–1.6 s per call (measured), which dominated per-query
    construction time.

    For file-source plans: splits ≈ max(n_files, total_bytes /
    maxPartitionBytes) — exactly how FileSourceScan sizes its partitions,
    so a big single file on a cluster is correctly recognized as
    well-split and left alone.  Non-file / non-local plans fall back to
    the accurate RDD probe."""
    import urllib.parse

    try:
        # an explicit upstream repartition/rebalance means someone already
        # chose a distribution — never spread again (the file-size estimate
        # below cannot see shuffles and would double-repartition)
        plan = df._jdf.queryExecution().logical().toString()
        if "Repartition" in plan or "RebalancePartitions" in plan:
            return 1 << 30
    except Exception:
        pass
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        paths = []
        for f in files:
            parsed = urllib.parse.urlparse(f)
            if parsed.scheme in ("file", ""):
                paths.append(urllib.parse.unquote(parsed.path))
            else:
                paths = None
                break
        if paths is not None:
            import os

            try:
                total = sum(os.path.getsize(p) for p in paths)
            except OSError:
                return df.rdd.getNumPartitions()
            max_bytes_conf = df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
            max_bytes = int("".join(ch for ch in max_bytes_conf if ch.isdigit()) or 134217728)
            if max_bytes_conf.lower().endswith(("m", "mb")):
                max_bytes *= 1024 * 1024
            elif max_bytes_conf.lower().endswith(("g", "gb")):
                max_bytes *= 1024 * 1024 * 1024
            return max(len(files), total // max_bytes)
    return df.rdd.getNumPartitions()


def renumber(df: DataFrame, order_by=None, start: int = 1, pins: list | None = None) -> DataFrame:
    """Re-assign row numbers from ``start`` (reference ``phaser/phase.py:120-124``).

    When ``order_by`` is given, the rows are globally SORTED (range
    exchange → per-partition sort, the scalable path) and then numbered
    with the per-partition offset trick — partition order after a range
    exchange IS global order, so this equals a global ``row_number``
    window without the window's single-task bottleneck.  Otherwise numbers
    follow current partition order (zero-shuffle path)."""
    if order_by is not None:
        order = [order_by] if not isinstance(order_by, (list, tuple)) else list(order_by)
        # cache is decided automatically (see with_row_numbers): a sort
        # over a deterministic scan re-executes for the second pass rather
        # than pinning a full sorted copy — at 100 TB a re-sort streams,
        # while a pinned copy is storage pressure.  Order BEFORE dropping
        # the old numbering so order_by may reference it (the stable
        # "renumber in prior order" path).
        return with_row_numbers(
            df.orderBy(*order).drop(PHASER_ROW_NUM), start=start, pins=pins
        )
    return with_row_numbers(df.drop(PHASER_ROW_NUM), start=start, pins=pins)


def number_new_rows(df: DataFrame, max_existing: int, pins: list | None = None) -> DataFrame:
    """Number rows whose ``__phaser_row_num__`` is null from ``max_existing+1``.

    Reference semantics: rows added by steps get ``max+1`` numbering
    (``phaser/records.py:60-92``, ``tests/test_record_metadata.py:63-97``).
    The caller has already found such a row (``Phase._realign``), so no
    second ``isEmpty`` job runs here.
    """
    if PHASER_ROW_NUM not in df.columns:
        return with_row_numbers(df, start=max_existing + 1, pins=pins)
    kept = df.filter(F.col(PHASER_ROW_NUM).isNotNull())
    fresh = with_row_numbers(
        df.filter(F.col(PHASER_ROW_NUM).isNull()).drop(PHASER_ROW_NUM),
        start=max_existing + 1,
        pins=pins,
    )
    return kept.unionByName(fresh)
