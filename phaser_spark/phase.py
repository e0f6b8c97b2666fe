"""Phase: the unit of work — columns, then steps, then prune.

Parity target: reference ``phaser/phase.py`` (SURVEY.md §1.1, §3):

* ``do_column_stuff`` — header canonicalization + renames
  (``phaser/phase.py:264-300``), required checks (``:258-259``), then
  cast/fix/check per declared column in order, stopping at the first
  failing column per row (``phaser/phase.py:241-253``).
* ``run_steps`` — dispatch row/batch/dataframe/context steps
  (``phaser/phase.py:57-140``).
* error-policy routing (``phaser/context.py:127-173``): collect / warn /
  drop_row / stop_now; rows with an ERROR event are skipped by later row
  steps but retained in output (``phaser/phase.py:90-91,101-105``).
* ``prepare_for_save`` — undeclared-column warnings + ``save=False``
  pruning (``phaser/phase.py:302-328``).

Engine design: a Phase is a **lazy DataFrame transform** — one narrow
projection for the whole column stage (vectorized, codegen), `mapInArrow`
only for opaque row steps, and policy routing as pure column expressions.
Nothing materializes until the pipeline checkpoints the phase output; the
only eager driver actions are tiny (stop_now probe, check_size counts,
sample-based schema inference), each documented where it happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .column import Column, make_strict_name
from .constants import (
    DROP_COL,
    DROP_STEP_COL,
    ERROR_COL,
    EVENT_DROPPED_ROW,
    EVENT_ERROR,
    EVENT_ROW_COL,
    EVENT_WARNING,
    INTERNAL_COLS,
    ON_ERROR_COLLECT,
    ON_ERROR_DROP_ROW,
    ON_ERROR_STOP_NOW,
    ON_ERROR_WARN,
    PHASER_ROW_NUM,
    ROW_STEP_SOURCE_MAX_ROWS,
    SWEPT_COL,
    WARNING_COL,
    normalize_policy,
)
from .context import Context
from .exceptions import DataErrorException, DataException, PhaserError
from .io import ExtraMapping, ExtraRecords, SavableObject
from .lineage import renumber as _renumber
from .lineage import spread_for_compute, with_row_numbers
from .steps import (
    BATCH_STEP,
    CONTEXT_STEP,
    DATAFRAME_STEP,
    ROW_STEP,
    collect_rows,
    extract_extra_output_deltas,
    run_row_step,
    step_type_of,
)

_ERR_TYPE = "struct<type:string,column:string,step:string,message:string,policy:string>"

# Width of one renumber round's negative parking band (see
# Phase._apply_renumber): parked row r in round e gets -(r + e * band).
# 2^40 ~ 1.1e12 live rows per phase before the distributed overflow
# assert fires; at 2^63 / 2^40 = 8.4M renumber rounds the epoch itself
# cannot overflow a long in any real pipeline.
_PARK_BAND = 1 << 40

# Single-child logical operators that pass, drop, reorder or widen the rows
# they read but never make one: a row number that flows through them as
# the same attribute is one of the input's numbers (Phase._kept_numbers).
_KEEPS_NUMBERS = frozenset({
    "Project", "SubqueryAlias", "Filter", "Sort", "Repartition",
    "RepartitionByExpression", "Window", "Deduplicate", "GlobalLimit",
    "LocalLimit", "Sample",
})
# ...and the ones that map every row to exactly one row
_ONE_TO_ONE = frozenset({"Project", "SubqueryAlias"})


def _any_cached(spark, plans: list) -> bool:
    """Whether the session's cache holds any of these logical plans."""
    jspark = spark._jsparkSession
    cache = jspark.sharedState().cacheManager()
    return any(cache.lookupCachedData(jspark, p).isDefined() for p in plans)


class TolerantDict(dict):
    """Driver dict for extra sources with string-key fallback.

    Accumulated extra outputs serialize keys as strings (JSON/CSV); the
    reference keeps native Python keys in memory.  Lookups fall back to
    ``str(key)`` (and ``"null"`` for None) so reference row functions like
    ``sibling_counts[parent_id]`` keep working."""

    def _alt(self, key):
        if key is None:
            return "null"
        s = str(key)
        if isinstance(key, float) and key == int(key):
            return str(int(key))
        return s

    def __missing__(self, key):
        alt = self._alt(key)
        if alt in self.keys():
            return dict.__getitem__(self, alt)
        return 0  # defaultdict(int) parity for counting mappings

    def __contains__(self, key):
        return dict.__contains__(self, key) or dict.__contains__(self, self._alt(key))


class Phase:
    """Declarative phase (reference ``phaser/phase.py:196-228``).

    Subclass with class attributes (``columns``, ``steps``,
    ``extra_sources``, ``extra_outputs``, ``error_policy``) or instantiate
    directly — both reference idioms are supported.
    """

    columns: list = []
    steps: list = []
    extra_sources: list = []
    extra_outputs: list = []
    error_policy: str | None = None
    renumber = False

    def __init__(
        self,
        name: str | None = None,
        steps: list | None = None,
        columns: list | None = None,
        context: Context | None = None,
        renumber: bool | None = None,
        extra_sources: list | None = None,
        extra_outputs: list | None = None,
        error_policy: str | None = None,
        checkpoint_bucket_by: list[str] | None = None,
        checkpoint_num_buckets: int | None = None,
        checkpoint_sort_by: list[str] | None = None,
        checkpoint_num_files: int | None = None,
        checkpoint_partition_by: list[str] | None = None,
    ):
        self.name = name or type(self).__name__
        self.steps = list(steps if steps is not None else type(self).steps)
        self.columns = list(columns if columns is not None else type(self).columns)
        self.context = context or Context()
        if renumber is not None:
            self.renumber = renumber
        self.extra_sources = list(
            extra_sources if extra_sources is not None else type(self).extra_sources
        )
        self.extra_outputs = list(
            extra_outputs if extra_outputs is not None else type(self).extra_outputs
        )
        self.error_policy = normalize_policy(
            error_policy or type(self).error_policy, where="error_policy"
        )
        # checkpoint_bucket_by: when set, the Pipeline materializes this
        # phase's checkpoint as a BUCKETED parquet table on these columns
        # (io.save_parquet_bucketed) instead of a plain directory — every
        # later phase's join/aggregation on the bucketed key then reads a
        # pre-shuffled layout and skips its Exchange entirely.  This is the
        # 100 TB answer for the repeated-same-key pipeline idiom (the
        # reference's families pipelines re-join on `family_id` phase after
        # phase and would otherwise pay a full shuffle per phase).  Size
        # checkpoint_num_buckets >= the cluster's core count so the
        # bucketed read keeps full scan parallelism.
        self.checkpoint_bucket_by = (
            list(checkpoint_bucket_by)
            if checkpoint_bucket_by is not None
            else list(getattr(type(self), "checkpoint_bucket_by", None) or [])
        ) or None
        # class-attribute fallback, same as checkpoint_bucket_by — a
        # subclass declaring `checkpoint_num_buckets = 512` next to its
        # bucket columns must not silently get the default
        self.checkpoint_num_buckets = (
            checkpoint_num_buckets
            if checkpoint_num_buckets is not None
            else getattr(type(self), "checkpoint_num_buckets", None) or 32
        )
        # checkpoint_sort_by: range-cluster this phase's checkpoint on
        # these columns (io.save_parquet_sorted) so later phases' and
        # consumers' predicates on them skip parquet row groups via
        # min/max stats — the time-ordered-checkpoint analogue of
        # checkpoint_bucket_by (which targets join/agg keys instead).
        self.checkpoint_sort_by = (
            list(checkpoint_sort_by)
            if checkpoint_sort_by is not None
            else list(getattr(type(self), "checkpoint_sort_by", None) or [])
        ) or None
        # checkpoint_partition_by: hive-partition this phase's checkpoint
        # directories on these columns — later phases' (and external
        # consumers') equality/IN filters on them prune whole partitions
        # at PLANNING time, before any file is opened.  The coarse
        # complement to checkpoint_sort_by (row-group pruning at scan
        # time); the two compose (partition dirs outside, range-clustered
        # files inside).  Pick low-cardinality columns (date, lang,
        # source) — one directory per value.
        self.checkpoint_partition_by = (
            list(checkpoint_partition_by)
            if checkpoint_partition_by is not None
            else list(getattr(type(self), "checkpoint_partition_by", None) or [])
        ) or None
        self.checkpoint_num_files = (
            checkpoint_num_files
            if checkpoint_num_files is not None
            else getattr(type(self), "checkpoint_num_files", None)
        )
        if self.checkpoint_sort_by and self.checkpoint_bucket_by:
            raise PhaserError(
                f"Phase {self.name}: checkpoint_sort_by and "
                "checkpoint_bucket_by are mutually exclusive (a bucketed "
                "checkpoint already sorts within buckets on the bucket key)"
            )
        for c in self.columns:
            if not isinstance(c, Column):
                raise PhaserError(f"Phase {self.name}: {c!r} is not a Column")
        self.df: DataFrame | None = None
        self._original_headers: list[str] = []

    # -- reference helper used by the diff CLI (phaser/phase.py:222-228) ----
    @property
    def rename_list(self) -> dict[str, str]:
        out = {}
        for c in self.columns:
            for alt in c.rename:
                out[alt] = c.name
        return out

    def load_data(self, data) -> None:
        """Accept a Spark DataFrame, pandas DataFrame, or list of dicts
        (reference ``PhaseBase.load_data``, phaser/phase.py:31-49)."""
        if isinstance(data, DataFrame):
            self.df = data
        else:
            import pandas as pd

            if isinstance(data, pd.DataFrame):
                self.df = self.context.spark.createDataFrame(data)
            else:
                self.df = self.context.spark.createDataFrame(list(data))

    def diffable(self) -> bool:
        """Whether this phase's input/output can be row-diffed by number
        (reference ``Phase.diffable``, phaser/phase.py:330-331): a
        ``renumber=True`` phase rewrites row identity, so an indexed diff
        against its input would report every row as changed."""
        return not self.renumber

    def _needs_spread(self) -> bool:
        """Whether the phase contains CPU-heavy per-row work that benefits
        from a fan-out repartition of a narrow scan (see
        ``lineage.spread_for_compute``).  Column contracts (cast/fix-fn
        projections) and any user step default to True; builtin steps whose
        heavy work runs behind their own exchange opt out via the
        ``__phaser_needs_spread__`` marker; driver-side context steps are
        ignored."""
        if self.columns:
            return True
        for step in self.steps:
            if step_type_of(step) == CONTEXT_STEP:
                continue
            if getattr(step, "__phaser_needs_spread__", True):
                return True
        return False

    # ------------------------------------------------------------------
    def run(self, df: DataFrame | None = None) -> DataFrame:
        """Build the phase's lazy output DataFrame (internal marker columns
        included; the Pipeline strips them at checkpoint)."""
        if df is not None:
            self.df = df
        if self.df is None:
            raise PhaserError(f"Phase {self.name}: no data loaded")
        self.context.current_phase = self.name
        self.context.reset_drop_tags(self.name)
        self._park_epoch = 0  # per-run reset keeps parked bands deterministic
        # each phase starts in checkpoint (row-number) order; an in-phase
        # sort_by re-establishes this for order-consuming steps
        self.context.sort_state = None
        # the input is pinned for numbering only when its plan is not a
        # deterministic scan (lineage._is_deterministic_narrow_plan)
        df = with_row_numbers(self.df, pins=self.context.pinned_inputs)
        # numbering is pinned to ingest order above; from here on the plan is
        # order-free (everything keys off __phaser_row_num__), so fan a
        # narrow scan out across cores before the column/step projections —
        # but ONLY when the phase actually has CPU-heavy per-row work.  A
        # phase whose steps all introduce their own exchange (dedup window,
        # sort, check_unique aggregate) or are cheap codegen'd predicates
        # gets no benefit: the step's shuffle spreads the work anyway, and
        # the fan-out would move every byte across the wire one extra time
        # (at 100 TB, a full wasted pass of the corpus).
        if self._needs_spread():
            df = spread_for_compute(df)
        self._original_headers = [c for c in df.columns if c not in INTERNAL_COLS]

        df = self._rename_columns(df)
        df = self._ensure_internal(df)
        if self.columns:
            df = self._column_stage(df)
            df = self._resolve_policies(df)
        df = self._run_steps(df)
        df = self._prepare_for_save(df)
        return df

    def _apply_renumber(self, df: DataFrame) -> DataFrame:
        """Re-assign 1..N row numbers — the reference does this as BATCH-step
        postprocessing (phaser/phase.py:120-121 ``preserve_numbers=False``),
        so a ``renumber=True`` phase renumbers after EVERY batch/dataframe
        step and NOT at all when no batch step runs (row/context steps never
        renumber; pinned by the round-11 differential seeds 1/14/41, which
        caught the previous end-of-phase renumber diverging on exactly
        those shapes).

        * LIVE rows (not dropped, not swept — both are gone from the
          reference's records list) are numbered 1..N in deterministic
          list order: the in-phase sort_by keys, then the prior row
          number — NEVER raw partition order, which for a reloaded
          checkpoint is file-listing order.
        * PARKED rows (dropped/swept markers the reference no longer
          holds) first stash their error-time number in EVENT_ROW_COL
          for the report, then move to the NEGATIVE range: they must not
          collide with freshly assigned live numbers (a later step's
          realign joins on the row number) and must not inflate the
          max+1 base for rows added later (the reference's max is over
          live rows only).  Each renumber round parks into its OWN
          negative band, ``-(n + round × 2^40)``, and rows parked in an
          earlier round keep their number — so two rows parked in
          different rounds can never collide even when their live
          numbers matched (row 2 parked in round 1, a later live row
          renumbered to 2 and parked in round 2).  A phase exceeding
          2^40 live rows would overflow its band — a distributed
          assert_true fails the job loudly rather than silently
          aliasing.
        * live rows already carrying an event stash their number too —
          the reference recorded those events at raise time, before this
          renumber; rows that error LATER keep a NULL stash and report
          under their new number (extract_events coalesces).
        """
        parked = F.col(DROP_COL) | F.col(SWEPT_COL)
        has_event = (
            F.col(ERROR_COL).isNotNull()
            | (F.col(WARNING_COL).isNotNull() & (F.size(WARNING_COL) > 0))
            | parked
        )
        prev_stash = (
            F.col(EVENT_ROW_COL)
            if EVENT_ROW_COL in df.columns
            else F.lit(None).cast("long")
        )
        df = df.withColumn(
            EVENT_ROW_COL,
            F.coalesce(prev_stash, F.when(has_event, F.col(PHASER_ROW_NUM))),
        )
        order = [
            F.col(f"`{c}`").asc_nulls_first()
            for c in (self.context.sort_state or [])
            if c in df.columns
        ]
        order.append(F.col(PHASER_ROW_NUM).asc())
        live = _renumber(
            df.filter(~parked),
            order_by=order,
            pins=self.context.pinned_inputs,
        )
        self._park_epoch = getattr(self, "_park_epoch", 0) + 1
        band = self._park_epoch * _PARK_BAND
        num = F.col(PHASER_ROW_NUM)
        parked_num = F.when(num < 0, num).otherwise(
            F.when(
                num < F.lit(_PARK_BAND),
                -(num + F.lit(band)),
            ).otherwise(
                # loud distributed failure, never a silent alias
                F.raise_error(
                    F.lit(
                        f"Phase {self.name}: renumber parking band overflow "
                        f"(>= {_PARK_BAND} rows in one phase)"
                    )
                ).cast("long")
            )
        )
        rest = df.filter(parked).withColumn(PHASER_ROW_NUM, parked_num)
        return live.unionByName(rest)

    # -- P1: header canonicalization + renames ---------------------------
    def _rename_columns(self, df: DataFrame) -> DataFrame:
        targets: dict[str, str] = {}
        for c in self.columns:
            for candidate in [c.name] + c.rename:
                strict = make_strict_name(candidate)
                if strict in targets and targets[strict] != c.name:
                    raise DataException(
                        f"Phase {self.name}: rename conflict — '{candidate}' maps to "
                        f"both '{targets[strict]}' and '{c.name}'"
                    )
                targets[strict] = c.name
        mapping: dict[str, str] = {}
        used: dict[str, str] = {}
        for h in df.columns:
            if h in INTERNAL_COLS or h == PHASER_ROW_NUM:
                continue
            cleaned = h.strip().strip("'\"").strip()
            new = targets.get(make_strict_name(cleaned), cleaned)
            if new in used:
                raise DataException(
                    f"Phase {self.name}: headers '{used[new]}' and '{h}' both "
                    f"canonicalize to '{new}'"
                )
            used[new] = h
            mapping[h] = new
        selects = [
            F.col(f"`{h}`").alias(mapping.get(h, h)) for h in df.columns
        ]
        df = df.select(*selects)

        # required / add-missing (phaser/phase.py:251,258-259; column.py:107-112)
        for c in self.columns:
            if c.name not in df.columns:
                if c.required:
                    # The check_required raise escapes phase.run() and is
                    # handled with the CONTEXT (pipeline) policy, not the
                    # phase's (phaser/pipeline.py:184-189 +
                    # context.py:process_exception):
                    #   stop_now — process_exception re-raises the ORIGINAL
                    #     DataErrorException before the PhaserError wrap is
                    #     reached, so the run fails with the data exception;
                    #   collect  — wrapped in PhaserError;
                    #   warn/drop_row — the reference swallows the exception
                    #     and crashes on unbound `results`
                    #     (pipeline.py:191, UnboundLocalError) — a reference
                    #     bug we fix by failing loud with PhaserError
                    #     (PARITY.md "missing required header").
                    msg = (
                        f"Phase {self.name}: required column '{c.name}' not "
                        f"found in "
                        f"{[h for h in df.columns if h not in INTERNAL_COLS]}"
                    )
                    ctx_policy = (
                        getattr(self.context, "error_policy", None)
                        or ON_ERROR_COLLECT
                    )
                    if ctx_policy == ON_ERROR_STOP_NOW:
                        raise DataErrorException(msg)
                    raise PhaserError(msg)
                if c.save:
                    df = df.withColumn(c.name, F.lit(None).cast(c.spark_type))
        return df

    def _ensure_internal(self, df: DataFrame) -> DataFrame:
        if ERROR_COL not in df.columns:
            df = df.withColumn(ERROR_COL, F.lit(None).cast(_ERR_TYPE))
        if WARNING_COL not in df.columns:
            df = df.withColumn(
                WARNING_COL, F.lit(None).cast(f"array<{_ERR_TYPE}>")
            )
        if DROP_COL not in df.columns:
            df = df.withColumn(DROP_COL, F.lit(False))
        if DROP_STEP_COL not in df.columns:
            df = df.withColumn(DROP_STEP_COL, F.lit(None).cast("string"))
        if SWEPT_COL not in df.columns:
            df = df.withColumn(SWEPT_COL, F.lit(False))
        return df

    # -- column stage: one projection for every declared column ----------
    def _column_stage(self, df: DataFrame) -> DataFrame:
        values: dict[str, F.Column] = {}
        errors: list = []
        for c in self.columns:
            if c.name not in df.columns:
                continue
            value, err = c.compile(F.col(f"`{c.name}`"))
            values[c.name] = value.cast(c.spark_type).alias(c.name)
            errors.append(err)
        # first failing column wins, in declared order (phaser/phase.py:241-253)
        first_err = F.coalesce(*errors, F.col(ERROR_COL)) if errors else F.col(ERROR_COL)
        cols = []
        for name in df.columns:
            if name == ERROR_COL:
                cols.append(first_err.alias(ERROR_COL))
            elif name in values:
                cols.append(values[name])
            else:
                cols.append(F.col(f"`{name}`"))
        return df.select(*cols)

    # -- policy routing as pure expressions -------------------------------
    def _resolve_policies(self, df: DataFrame) -> DataFrame:
        policy = self.error_policy or self.context.error_policy or ON_ERROR_COLLECT
        err = F.col(ERROR_COL)
        eff = F.coalesce(err["policy"], F.lit(policy))
        as_warning = F.struct(
            F.lit(EVENT_WARNING).alias("type"),
            err["column"].alias("column"),
            err["step"].alias("step"),
            err["message"].alias("message"),
            F.lit(None).cast("string").alias("policy"),
        )
        as_dropped = F.struct(
            F.lit(EVENT_DROPPED_ROW).alias("type"),
            err["column"].alias("column"),
            err["step"].alias("step"),
            err["message"].alias("message"),
            F.lit(None).cast("string").alias("policy"),
        )
        warnings0 = F.coalesce(F.col(WARNING_COL), F.array().cast(f"array<{_ERR_TYPE}>"))
        new_warnings = (
            F.when(err.isNull(), F.col(WARNING_COL))
            .when(eff == ON_ERROR_WARN, F.array_append(warnings0, as_warning))
            .when(eff == ON_ERROR_DROP_ROW, F.array_append(warnings0, as_dropped))
            .otherwise(F.col(WARNING_COL))
        )
        new_drop = F.when(
            err.isNotNull() & (eff == ON_ERROR_DROP_ROW), F.lit(True)
        ).otherwise(F.col(DROP_COL))
        new_err = F.when(
            err.isNotNull() & eff.isin(ON_ERROR_WARN, ON_ERROR_DROP_ROW), F.lit(None).cast(_ERR_TYPE)
        ).otherwise(err)
        out = (
            df.withColumn(WARNING_COL, new_warnings)
            .withColumn(DROP_COL, new_drop)
            .withColumn(ERROR_COL, new_err)
        )
        # stop_now must abort immediately (phaser/context.py:160-173): the
        # only policy that requires an eager probe.
        needs_probe = policy == ON_ERROR_STOP_NOW or any(
            c.on_error == ON_ERROR_STOP_NOW for c in self.columns
        )
        if needs_probe:
            probe_eff = F.coalesce(F.col(ERROR_COL)["policy"], F.lit(policy))
            hit = (
                out.filter(
                    F.col(ERROR_COL).isNotNull() & (probe_eff == ON_ERROR_STOP_NOW)
                )
                .select(ERROR_COL, PHASER_ROW_NUM)
                .first()
            )
            if hit is not None:
                e = hit[ERROR_COL]
                raise DataException(
                    f"Phase {self.name} stopped (stop_now): row "
                    f"{hit[PHASER_ROW_NUM]}: {e['message']}"
                )
        return out

    # -- steps -------------------------------------------------------------
    def _resolve_source(self, spec):
        if isinstance(spec, SavableObject):
            if spec.df is None and self.context.has_source(spec.name):
                return self.context.get_source(spec.name)
            return spec
        return self.context.get_source(str(spec))

    def _source_value_for_row_step(self, obj: SavableObject):
        # Row steps get extra sources as plain Python values, which means
        # a full driver materialization shipped in every task closure —
        # reference semantics assume small dims
        # (tests/pipelines/multi_source_and_outputs.py:65-77).  Bounded
        # here so a big DataFrame wired as a row-step source fails loudly
        # instead of silently OOMing the driver at cluster scale; the
        # scale path is ops.relational.join_step (broadcast/shuffle).
        if isinstance(obj, ExtraMapping):
            return TolerantDict(obj.to_dict())
        if obj.df is None:
            return []
        rows = collect_rows(obj.df, ROW_STEP_SOURCE_MAX_ROWS + 1)
        if len(rows) > ROW_STEP_SOURCE_MAX_ROWS:
            raise PhaserError(
                f"Extra source {obj.name!r} has more than "
                f"{ROW_STEP_SOURCE_MAX_ROWS} rows and cannot be "
                "materialized into the driver for a row step. Join it "
                "instead: phaser_spark.ops.relational.join_step broadcasts "
                "small sides and shuffle-joins large ones. (Raise the cap "
                "via PHASER_SPARK_ROW_STEP_SOURCE_MAX_ROWS only if every "
                "executor can hold the whole source in memory.)"
            )
        return rows

    def _run_steps(self, df: DataFrame) -> DataFrame:
        declared_outputs = {o.name: o for o in self.extra_outputs}
        phase_sources = {}
        for spec in self.extra_sources:
            obj = self._resolve_source(spec)
            phase_sources[obj.name] = obj

        for step in self.steps:
            st = step_type_of(step)
            step_name = getattr(step, "__name__", str(step))
            src_names = getattr(step, "__phaser_extra_sources__", ()) or ()
            out_names = getattr(step, "__phaser_extra_outputs__", ()) or ()
            for n in out_names:
                if n not in declared_outputs:
                    raise PhaserError(
                        f"Step {step_name} declares extra_output '{n}' but phase "
                        f"{self.name} does not (reference phaser/phase.py:63-66)"
                    )

            if st == CONTEXT_STEP:
                kwargs = self._step_kwargs(step, src_names, phase_sources, for_row=False)
                kwargs.pop("context", None)  # passed positionally
                step(self.context, **kwargs)
                continue

            if st == ROW_STEP:
                kwargs = self._step_kwargs(step, src_names, phase_sources, for_row=True)
                # rows already carrying an error at row-step ENTRY are,
                # in the reference, removed from the working set here
                # (phase.py:90-91) — mark them swept so later batch
                # steps (filter_rows) treat them as invisible; rows that
                # error DURING this step stay visible until the next one
                if SWEPT_COL in df.columns:
                    df = df.withColumn(
                        SWEPT_COL,
                        F.col(SWEPT_COL) | F.col(ERROR_COL).isNotNull(),
                    )
                df = run_row_step(
                    df,
                    step,
                    step_name=step_name,
                    phase_name=self.name,
                    extra_source_values=kwargs,
                    extra_output_names=tuple(out_names),
                    context_vars=self.context.variables,
                    strict_schemas=getattr(self.context, "strict_schemas", False),
                )
                if out_names:
                    from .steps import _EXTRA_DELTA_COL

                    deltas = extract_extra_output_deltas(df, tuple(out_names))
                    df = df.drop(_EXTRA_DELTA_COL)
                    for n, ddf in deltas.items():
                        self._merge_extra_output(declared_outputs[n], ddf)
                df = self._resolve_policies(df)
                continue

            # batch / dataframe steps: operate on visible, non-dropped,
            # non-swept rows.  SWEPT rows (errored, then a row step ran) have
            # left the reference's working set ENTIRELY (phase.py:90-91) —
            # every later step, not just filter_rows, is blind to them.
            # Engine builtins (internal=True) receive the full DataFrame and
            # preserve lineage/quarantine columns themselves — no realign —
            # so each builtin applies the same swept exclusion internally.
            is_internal = getattr(step, "__phaser_internal__", False)
            # a renumber round's event-number stash rides along too
            state = df.select(
                PHASER_ROW_NUM, ERROR_COL, WARNING_COL, DROP_COL,
                DROP_STEP_COL, SWEPT_COL,
                *([EVENT_ROW_COL] if EVENT_ROW_COL in df.columns else []),
            )
            visible = (
                df
                if is_internal
                else df.filter(~F.col(DROP_COL) & ~F.col(SWEPT_COL)).drop(
                    *INTERNAL_COLS
                )
            )
            check_size = getattr(step, "__phaser_check_size__", False)
            # check_size counts LIVE rows only (not dropped, not swept):
            # the reference diffs len(row_data), which excludes errored
            # rows removed at the last row step
            live = ~F.col(DROP_COL) & ~F.col(SWEPT_COL)
            n_before = (
                (df.filter(live).count() if is_internal else visible.count())
                if check_size
                else None
            )
            kwargs = self._step_kwargs(step, src_names, phase_sources, for_row=False)
            try:
                out = step(visible, **kwargs)
            except DataException as e:
                # whole-batch error attributed per policy (phaser/phase.py:125-126)
                policy = self.error_policy or self.context.error_policy
                if policy == ON_ERROR_STOP_NOW:
                    raise
                row_num = (e.row or {}).get(PHASER_ROW_NUM) if e.row else None
                self.context.add_error(step_name, row_num, str(e))
                continue
            if not isinstance(out, DataFrame):
                raise PhaserError(
                    f"batch/dataframe step {step_name} must return a Spark "
                    f"DataFrame, got {type(out)}"
                )
            df = out if is_internal else self._realign(out, state, visible)
            if self.renumber:
                # the reference renumbers as part of EVERY batch step's
                # postprocessing (phaser/phase.py:120-121) — internal
                # builtins are batch steps there too
                df = self._apply_renumber(df)
            if check_size and n_before is not None:
                n_after = df.filter(~F.col(DROP_COL) & ~F.col(SWEPT_COL)).count()
                if n_after != n_before:
                    what = "dropped" if n_after < n_before else "ADDED"
                    self.context.add_warning(
                        step_name,
                        None,
                        f"{abs(n_after - n_before)} rows were {what} during step {step_name}",
                    )
            for n in out_names:
                obj = declared_outputs[n]
                if obj.df is not None:
                    self.context.set_source(obj)

        for n, obj in declared_outputs.items():
            self.context.set_source(obj)
        return df

    def _step_kwargs(self, step, src_names, phase_sources, for_row: bool) -> dict:
        kwargs = {}
        for n in src_names:
            obj = phase_sources.get(n) or self._resolve_source(n)
            kwargs[n] = (
                self._source_value_for_row_step(obj) if for_row else obj.df
            )
        if not for_row:
            import inspect

            if "context" in inspect.signature(step).parameters:
                kwargs["context"] = self.context
            for n in getattr(step, "__phaser_extra_outputs__", ()) or ():
                for o in self.extra_outputs:
                    if o.name == n:
                        kwargs[n] = o
        return kwargs

    def _merge_extra_output(self, obj: SavableObject, delta_df: DataFrame) -> None:
        """Merge a (key, value) delta DataFrame into a declared output.

        Sums with any existing content; casts to long when every value is
        integral so counting mappings round-trip as ints."""
        if obj.df is not None:
            delta_df = (
                obj.df.select(
                    F.col("key").cast("string").alias("key"),
                    F.col("value").cast("double").alias("value"),
                )
                .unionByName(delta_df)
                .groupBy("key")
                .agg(F.sum("value").alias("value"))
            )
        # Materialize the (small, by contract) delta table ONCE: left
        # un-checkpointed, it stays rooted in the row step's mapInArrow
        # plan and every later consumer (the frac probe below, save, the
        # next phase's merge, to_dict) re-executes the arbitrary user row
        # function over the whole input — and under a nondeterministic
        # fn those executions disagree with the checkpointed rows.
        # Lazy + the frac probe right below: the complete aggregate scans
        # every partition, so the probe job materializes the checkpoint
        # (one job instead of an eager-materialization job plus the probe;
        # per-partition caching keeps nondeterministic fns single-run).
        delta_df = delta_df.localCheckpoint(eager=False)
        frac = delta_df.agg(
            F.max(F.abs(F.col("value") - F.round(F.col("value")))).alias("m")
        ).first()["m"]
        if frac is not None and frac == 0:
            delta_df = delta_df.withColumn("value", F.col("value").cast("long"))
        obj.df = delta_df
        self.context.set_source(obj)

    def _realign(
        self, out: DataFrame, state: DataFrame, visible: DataFrame
    ) -> DataFrame:
        """Re-attach lineage + quarantine state after a batch step
        (row-number preservation rules, phaser/records.py:63-92).

        Rows the step emitted without a row number are "new" and get max+1
        numbers; previously-dropped rows rejoin as marker-only rows so their
        DROPPED_ROW events survive to checkpoint extraction.  Rows the step
        REMOVED that carry recorded events rejoin the same way: the
        reference records events EAGERLY at raise time (context.add_event),
        so a later batch step dropping the row does not unrecord its
        errors/warnings — while this engine extracts events lazily from
        the row state at checkpoint and would silently lose them (caught
        by randomized differential seed 17 on the user-batch-step axis:
        three cast ERROR events vanished when batch_drop_retired removed
        the errored rows).

        When the step's plan shows that every output row is one of
        ``visible``'s rows under its own number (:meth:`_kept_numbers`),
        no probe job looks for unnumbered rows; when it shows the rows map
        one to one, the state columns ride through the step's projections
        and no join runs at all."""
        from .lineage import number_new_rows

        has_event = F.col(ERROR_COL).isNotNull() | (
            F.col(WARNING_COL).isNotNull() & (F.size(WARNING_COL) > 0)
        )
        lineage = self._kept_numbers(out, visible)
        # A renumber=True phase keeps the join: it makes the renumber pin
        # its sorted input (lineage._is_deterministic_narrow_plan), and an
        # unpinned range sort with several partitions can place rows
        # differently in the count job and the numbering job.  A cached
        # step output keeps it too: a rebuilt plan would not read the cache.
        if (
            lineage is not None
            and not self.renumber
            and all(n.nodeName() in _ONE_TO_ONE for n in lineage)
            and not _any_cached(out.sparkSession, lineage)
        ):
            joined = self._carry_state(out, lineage, state.columns[1:])
            removed_markers = None
        elif PHASER_ROW_NUM not in out.columns:
            # step destroyed row identity → every row is "new" and gets
            # max+1 numbers (starting at 1 would COLLIDE with the
            # re-unioned dropped rows' original numbers — two rows
            # sharing a number double-attributes events and corrupts
            # later max+1 numbering)
            mx = state.agg(F.max(PHASER_ROW_NUM)).first()[0] or 0
            out = with_row_numbers(
                out, start=mx + 1, pins=self.context.pinned_inputs
            )
            joined = self._ensure_internal(out)
            # every old row is gone; the event-carrying ones park
            removed_markers = state.filter(
                ~F.col(DROP_COL) & ~F.col(SWEPT_COL) & has_event
            ).withColumn(DROP_COL, F.lit(True))
        else:
            if lineage is None and not out.filter(
                F.col(PHASER_ROW_NUM).isNull()
            ).isEmpty():
                mx = state.agg(F.max(PHASER_ROW_NUM)).first()[0] or 0
                out = number_new_rows(out, mx, pins=self.context.pinned_inputs)
            joined = out.join(state, on=PHASER_ROW_NUM, how="left")
            joined = joined.withColumn(
                DROP_COL, F.coalesce(F.col(DROP_COL), F.lit(False))
            ).withColumn(
                SWEPT_COL, F.coalesce(F.col(SWEPT_COL), F.lit(False))
            )
            # event-carrying rows absent from the step's output: park as
            # DROP markers (stripped from visible output like the
            # reference's removed rows, but their events still extract)
            removed_markers = (
                state.filter(~F.col(DROP_COL) & ~F.col(SWEPT_COL) & has_event)
                .join(out.select(PHASER_ROW_NUM), PHASER_ROW_NUM, "left_anti")
                .withColumn(DROP_COL, F.lit(True))
            )
        # dropped AND swept rows were hidden from the step — both rejoin as
        # marker-only rows so their events / phase-failure state survive
        parked_state = state.filter(F.col(DROP_COL) | F.col(SWEPT_COL))
        if removed_markers is not None:
            parked_state = parked_state.unionByName(removed_markers)
        return joined.unionByName(parked_state, allowMissingColumns=True)

    @staticmethod
    def _kept_numbers(out: DataFrame, visible: DataFrame) -> list | None:
        """The analyzed plan nodes from a batch step's output ``out`` down
        to its input ``visible`` (top first, ``visible``'s own plan last),
        when they prove that each output row is an input row under its own
        number: ``out``'s row number is ``visible``'s attribute (not
        re-aliased) and every node on the way is in ``_KEEPS_NUMBERS``.
        ``None`` when the plan proves nothing (a join, union, generator or
        aggregate, or a step output naming an internal column)."""
        if any(c in INTERNAL_COLS for c in out.columns):
            return None
        target = visible._jdf.queryExecution().analyzed()
        node = out._jdf.queryExecution().analyzed()
        ids = []
        for df, plan in ((out, node), (visible, target)):
            cols = df.columns
            if cols.count(PHASER_ROW_NUM) != 1:
                return None
            ids.append(plan.output().apply(cols.index(PHASER_ROW_NUM)).exprId())
        if not ids[0].equals(ids[1]):
            return None
        lineage = []
        while not node.fastEquals(target):
            if node.nodeName() not in _KEEPS_NUMBERS or node.children().size() != 1:
                return None
            lineage.append(node)
            node = node.children().apply(0)
        return lineage + [node]

    @staticmethod
    def _carry_state(out: DataFrame, lineage: list, names: list[str]) -> DataFrame:
        """``out`` with the state columns ``names`` of each row's input
        row, for a step whose ``lineage`` (from :meth:`_kept_numbers`) is
        only projections.  The projections are rebuilt over ``visible``'s
        child, the live-row filter that still carries the internal
        columns, each passing the state attributes through.  Columns come
        in the left join's order: the row number, ``out``'s other columns,
        then ``names``."""
        jvm = out.sparkSession._jvm
        logical = jvm.org.apache.spark.sql.catalyst.plans.logical
        node = lineage[-1].children().apply(0)
        output = node.output()
        attrs = [output.apply(i) for i in range(output.size())]
        by_name = {a.name(): a for a in attrs}
        state = [by_name[n] for n in names]
        for step in reversed(lineage):
            if step.nodeName() == "Project":
                items = step.projectList()
                for attr in state:
                    items = items.appended(attr)
                node = logical.Project(items, node)
            else:
                node = logical.SubqueryAlias(step.identifier(), node)
        # reorder by position: no column name is parsed (one may hold a
        # backtick)
        output = node.output()
        rn = out.columns.index(PHASER_ROW_NUM)
        order = [rn] + [i for i in range(output.size()) if i != rn]
        node = logical.Project(
            jvm.PythonUtils.toSeq([output.apply(i) for i in order]), node
        )
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            out.sparkSession._jsparkSession, node
        )
        return DataFrame(jdf, out.sparkSession)

    # -- prune + consistency (phaser/phase.py:302-328) ---------------------
    def _prepare_for_save(self, df: DataFrame) -> DataFrame:
        declared = {c.name for c in self.columns}
        # compare against the POST-strip header names: _rename_columns
        # strips quotes/whitespace from every header, so raw
        # "'foo'" / " bar " inputs resurface as foo/bar — without the
        # same strip here every such untouched column draws a false
        # "added by steps but not declared" warning
        original = {
            h.strip().strip("'\"").strip() for h in self._original_headers
        } | set(self._original_headers) | {PHASER_ROW_NUM}
        for col in df.columns:
            if col in INTERNAL_COLS or col == PHASER_ROW_NUM:
                continue
            if col not in declared and col not in original:
                # reference attributes this to a pseudo-step named
                # 'consistency_check' (phaser/phase.py:326); match it, but
                # keep row attribution None — the reference's per-row
                # attribution is its own acknowledged bug (its TODO at
                # phase.py:322: everything lands on the current row)
                self.context.add_warning(
                    "consistency_check",
                    None,
                    f"New column '{col}' was added by steps but not declared "
                    f"in phase {self.name}",
                )
        drops = [c.name for c in self.columns if not c.save and c.name in df.columns]
        if drops:
            df = df.drop(*drops)
        return df
