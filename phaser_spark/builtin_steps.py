"""Built-in steps (reference ``phaser/builtin_steps.py``, SURVEY.md §2.6).

Each factory returns a decorated batch step operating on the live Spark
DataFrame.  Exact-parity notes:

* ``drop_duplicate_rows`` keeps the **last** duplicate (dict-overwrite
  semantics, ``phaser/builtin_steps.py:15-54``) — not Spark's
  ``dropDuplicates`` (arbitrary winner).  Implemented as a window over the
  dup key ordered by descending row number; original order restored by the
  lineage column.  Scale: one hash-shuffle on the dup key, no global sort.
* ``sort_by`` reproduces Python stable sort via the row-number tiebreak
  (``phaser/builtin_steps.py:89-107``); nulls sort first (the reference
  crashes on None — SURVEY §4.3 — we define nulls-first instead).
* ``check_unique`` raises ``DataErrorException`` on duplicates
  (``phaser/builtin_steps.py:57-86``); ``ignore_case`` guards nulls with
  ``lower(coalesce(...))`` rather than crashing (SURVEY §4.3).
* ``filter_rows`` records one summarized DROPPED_ROW event with the count
  (``phaser/builtin_steps.py:110-138``).
* ``flatten_column``/``flatten_all`` expand struct columns to
  ``parent__child`` names (``phaser/builtin_steps.py:141-234``); the
  reference's ``NameError`` on non-dict values (SURVEY §4.3) is fixed per
  its documented semantics (non-structs pass through).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column as SparkCol
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .column import Column
from .constants import INTERNAL_COLS, PHASER_ROW_NUM
from .exceptions import DataErrorException, PhaserError
from .steps import batch_step


def _colname(column) -> str:
    return column.name if isinstance(column, Column) else str(column)


def _data_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in INTERNAL_COLS and c != PHASER_ROW_NUM]


def _mint_drop_tag(context, name: str) -> str:
    """Unique DROP_STEP_COL tag for a dropping step.

    Two same-named steps in one phase (two default-named filter_rows, two
    drop_duplicate_rows) would otherwise share a tag and each deferred
    resolver would count BOTH steps' drops.  The sequence lives on the
    Context keyed by (phase, name) and resets at phase start, so the tag
    is a pure function of the step's position among same-named steps —
    reproducible across processes (checkpoint-resume safe), unlike a
    process-global counter.  Standalone use without a context falls back
    to the bare name (no deferred counting happens there anyway)."""
    return context.next_drop_tag(name) if context is not None else f"{name}#0"


def _defer_drop_count(context, step_name: str, tag: str, message_fmt: str, fallback_df, fallback_pred):
    """Register a summarized drop-count event that resolves CHEAPLY.

    In a Pipeline the count is already known: the phase's checkpoint write
    observed one ``count_if`` per drop tag (``context.phase_stats``), so
    resolving costs no Spark job.  A checkpoint registered without stats
    is counted with a pruned single-column scan of it; standalone
    ``Phase.run`` callers (neither) fall back to counting
    ``fallback_pred`` over the step's input plan."""
    from .constants import DROP_STEP_COL

    phase = context.current_phase

    def _count(ctx=context, phase=phase, name=step_name, tag=tag):
        observed = ctx.phase_stats.get(phase, {}).get("drop_tags", {})
        ckpt = ctx.phase_checkpoints.get(phase)
        if tag in observed:
            dropped = observed[tag]
        elif ckpt is not None and DROP_STEP_COL in ckpt.columns:
            dropped = ckpt.filter(F.col(DROP_STEP_COL) == tag).count()
        else:
            dropped = fallback_df.filter(fallback_pred).count()
        if dropped:
            ctx.add_dropped_row(name, None, message_fmt.format(n=dropped), phase=phase)

    context.add_deferred_event(_count)


def filter_rows(func: Callable | SparkCol, name: str = "filter_rows"):
    """Keep rows where the predicate holds (phaser/builtin_steps.py:110-138).

    ``func`` may be a Spark Column predicate (fast path, stays in codegen)
    or a Python ``f(row_dict) -> bool`` (Arrow-batched fallback).  Filtered
    rows are MARKED dropped (``DROP_COL`` + a ``DROP_STEP_COL`` tag) rather
    than removed — the pipeline strips them from visible output at the
    checkpoint, and the summarized DROPPED_ROW count is then read back from
    the checkpoint itself instead of re-scanning the pre-filter input.
    """

    @batch_step(internal=True)
    def _filter_rows(df: DataFrame, context=None) -> DataFrame:
        from .constants import DROP_COL, DROP_STEP_COL, SWEPT_COL

        tag = _mint_drop_tag(context, name)

        # SWEPT rows (errored, and a row step has since run) are
        # INVISIBLE to the filter: the reference removes errored rows
        # from its working set at the next ROW step (phase.py:90-91),
        # so a filter running after one never drops or counts them —
        # but a filter running BEFORE any row step intervenes still
        # sees the errored row (raw values) and drops it like any
        # other.  Both halves caught by randomized differential seeds
        # 99/127 (swept must not count) and 21 (unswept must count).
        swept = (
            F.col(SWEPT_COL) if SWEPT_COL in df.columns else F.lit(False)
        )
        if isinstance(func, SparkCol):
            newly = (~F.col(DROP_COL)) & ~swept & ~F.coalesce(func, F.lit(False))
        else:
            # the python predicate sees a plain dict of the data columns
            data_cols = _data_columns(df) + [PHASER_ROW_NUM]
            has_swept = SWEPT_COL in df.columns

            def gen(batches):
                for pdf in batches:
                    sub = pdf[data_cols].astype(object).where(pdf[data_cols].notna(), None)
                    sw = pdf[SWEPT_COL] if has_swept else [False] * len(pdf)
                    keep = [
                        bool(dropped) or bool(s) or bool(func(rec))
                        for dropped, s, rec in zip(
                            pdf[DROP_COL], sw, sub.to_dict("records")
                        )
                    ]
                    yield pdf.assign(__phaser_keep__=keep)

            schema = T.StructType(
                list(df.schema.fields) + [T.StructField("__phaser_keep__", T.BooleanType())]
            )
            df = df.mapInPandas(gen, schema=schema)
            newly = ~F.col("__phaser_keep__")

        out = (
            df.withColumn(
                DROP_STEP_COL,
                F.when(newly, F.lit(tag)).otherwise(F.col(DROP_STEP_COL)),
            )
            .withColumn(DROP_COL, F.col(DROP_COL) | newly)
        )
        if "__phaser_keep__" in out.columns:
            out = out.drop("__phaser_keep__")
        if context is not None:
            _defer_drop_count(
                context, name, tag, "{n} rows dropped by filter_rows", out,
                F.col(DROP_STEP_COL) == tag,
            )
        return out

    _filter_rows.__name__ = name
    # Column predicates are one cheap codegen'd comparison per row — not
    # worth a fan-out exchange; the Python-callable path is an Arrow
    # mapInPandas pass and keeps the phase's compute spread.
    _filter_rows.__phaser_needs_spread__ = not isinstance(func, SparkCol)
    return _filter_rows


def sort_by(column):
    """Stable sort by one column (phaser/builtin_steps.py:89-107): nulls
    first, row-number tiebreak reproduces Python's stable sort."""
    col = _colname(column)

    @batch_step(internal=True)
    def _sort_by(df: DataFrame, context=None) -> DataFrame:
        # record the new physical order as phase state: the reference's
        # list model carries row order implicitly, and keep-LAST dedup
        # after a sort must pick "last in SORTED order", not "last by
        # original row number" (found by the randomized differential
        # generator, round 10)
        if context is not None:
            context.sort_state = [col]
        # backticks: a dotted column name would otherwise resolve as
        # struct-field access (check_unique already escapes)
        return df.orderBy(
            F.col(f"`{col}`").asc_nulls_first(), F.col(PHASER_ROW_NUM).asc()
        )

    _sort_by.__name__ = f"sort_by_{col}"
    # orderBy introduces its own range exchange; a fan-out repartition in
    # front of it would just shuffle the same rows twice
    _sort_by.__phaser_needs_spread__ = False
    return _sort_by


def drop_duplicate_rows(columns=None):
    """Dedup on all data columns or a subset; **last duplicate wins**
    (phaser/builtin_steps.py:15-54).  Key parity: the reference keys on
    ``'|'.join(str(v))``; we key on the column tuple directly (same
    equivalence for scalar values, no separator-collision bug)."""
    cols = [_colname(c) for c in columns] if columns else None

    @batch_step(internal=True)
    def _drop_duplicate_rows(df: DataFrame, context=None) -> DataFrame:
        from .constants import DROP_COL, DROP_STEP_COL, SWEPT_COL

        tag = _mint_drop_tag(context, "drop_duplicate_rows")
        # swept rows are outside the reference's working set: they may
        # neither WIN a dedup group (dropping a clean row the reference
        # keeps) nor be tagged as dropped duplicates themselves
        swept = (
            F.col(SWEPT_COL) if SWEPT_COL in df.columns else F.lit(False)
        )

        key = [f"`{c}`" for c in (cols or _data_columns(df))]
        # "last duplicate" follows the phase's CURRENT physical order: by
        # default the row number, but after an in-phase sort_by the
        # keeper is the row that sorts last (reversed sort spec: desc
        # nulls last, row-number tiebreak) — reference list semantics,
        # pinned by the randomized differential suite
        last_order = [
            F.col(f"`{c}`").desc_nulls_last()
            for c in (getattr(context, "sort_state", None) or [])
        ] + [F.col(PHASER_ROW_NUM).desc()]
        # one window over ALL rows: already-dropped markers sort after live
        # rows, so the keeper (live row latest in current order) is
        # rank 1 and markers are never re-tagged — single shuffle, no
        # filter/union split of the input
        w = Window.partitionBy(*key).orderBy(
            (F.col(DROP_COL) | swept).asc(), *last_order
        )
        rn = F.row_number().over(w)
        newly = (~F.col(DROP_COL)) & ~swept & (rn > 1)
        out = (
            df.withColumn("__phaser_dd_new__", newly)
            .withColumn(
                DROP_STEP_COL,
                F.when(F.col("__phaser_dd_new__"), F.lit(tag))
                .otherwise(F.col(DROP_STEP_COL)),
            )
            .withColumn(DROP_COL, F.col(DROP_COL) | F.col("__phaser_dd_new__"))
            .drop("__phaser_dd_new__")
        )
        if context is not None:
            _defer_drop_count(
                context, "drop_duplicate_rows", tag,
                "{n} duplicate rows dropped",
                out, F.col(DROP_STEP_COL) == tag,
            )
        return out

    # the dedup window hash-shuffles by key — its heavy work runs on the
    # post-exchange side regardless of input partitioning, so a fan-out
    # repartition in front is a wasted full pass of the data
    _drop_duplicate_rows.__phaser_needs_spread__ = False
    return _drop_duplicate_rows


def check_unique(column, strip: bool = True, ignore_case: bool = False):
    """Assert all values of a column are unique
    (phaser/builtin_steps.py:57-86); raises ``DataErrorException`` as a
    whole-batch error.  One aggregate per value, then a top-1 over the
    duplicated groups: two Spark jobs (the aggregate's shuffle map stage
    and the top-1), whether or not a duplicate exists.  The reported value
    is the duplicate whose first occurrence has the lowest row number, so
    the message is the same on every run."""
    col = _colname(column)

    @batch_step(internal=True)
    def _check_unique(df: DataFrame, context=None) -> DataFrame:
        from .constants import DROP_COL, SWEPT_COL

        if col not in df.columns:
            raise DataErrorException(
                f"check_unique: column '{col}' not found; columns: {_data_columns(df)}"
            )
        expr = F.col(f"`{col}`").cast("string")
        if strip:
            expr = F.trim(expr)
        if ignore_case:
            expr = F.lower(F.coalesce(expr, F.lit("")))
        # swept rows (errored + row step since) have left the reference's
        # working set — a swept duplicate must not trip the check
        swept = (
            F.col(SWEPT_COL) if SWEPT_COL in df.columns else F.lit(False)
        )
        dup = (
            df.filter(~F.col(DROP_COL) & ~swept)
            .groupBy(expr.alias("k"))
            .agg(F.count(F.lit(1)).alias("n"), F.min(PHASER_ROW_NUM).alias("first"))
            .filter(F.col("n") > 1)
            .orderBy("first")
            .limit(1)
            .collect()
        )
        if dup:
            raise DataErrorException(
                f"Duplicate value '{dup[0]['k']}' in column '{col}' (check_unique)"
            )
        return df

    _check_unique.__name__ = f"check_unique_{col}"
    # partial aggregation runs on the scan tasks and the shuffle carries
    # only (value, count, first) triples — no fan-out needed
    _check_unique.__phaser_needs_spread__ = False
    return _check_unique


def _flatten_fields(df: DataFrame, col: str, deep: bool) -> list:
    """Expand one struct column into ``col__field`` aliases."""
    field = df.schema[col]
    if not isinstance(field.dataType, T.StructType):
        return []  # non-struct passes through (documented reference semantics)
    out = []
    for sub in field.dataType.fields:
        new_name = f"{col}__{sub.name}"
        if new_name in df.columns:
            raise DataErrorException(
                f"flatten_column: name collision on '{new_name}'"
            )
        out.append((new_name, F.col(f"`{col}`.`{sub.name}`")))
    return out


def flatten_column(column, deep: bool = True):
    """Flatten one struct-valued column to ``name__key`` columns
    (phaser/builtin_steps.py:189-234); ``deep=True`` recurses until no
    struct remains under this prefix.  Pure projection — no shuffle."""
    col = _colname(column)

    @batch_step(internal=True)
    def _flatten_column(df: DataFrame, context=None) -> DataFrame:
        if col not in df.columns:
            return df
        current = df
        targets = [col]
        while targets:
            t = targets.pop(0)
            expanded = _flatten_fields(current, t, deep)
            if not expanded:
                continue
            keep = [F.col(f"`{c}`") for c in current.columns if c != t]
            current = current.select(*keep, *[e.alias(n) for n, e in expanded])
            if deep:
                for n, _ in expanded:
                    if isinstance(current.schema[n].dataType, T.StructType):
                        targets.append(n)
        return current

    _flatten_column.__name__ = f"flatten_{col}"
    return _flatten_column


def flatten_all(deep: bool = True):
    """Iteratively flatten every struct column until none remain
    (phaser/builtin_steps.py:141-186)."""

    @batch_step(internal=True)
    def _flatten_all(df: DataFrame, context=None) -> DataFrame:
        current = df
        while True:
            structs = [
                f.name
                for f in current.schema.fields
                if isinstance(f.dataType, T.StructType) and f.name not in INTERNAL_COLS
            ]
            if not structs:
                return current
            for s in structs:
                expanded = _flatten_fields(current, s, deep)
                keep = [F.col(f"`{c}`") for c in current.columns if c != s]
                current = current.select(*keep, *[e.alias(n) for n, e in expanded])
            if not deep:
                return current

    return _flatten_all
