"""Pipeline: phase orchestration, checkpoints, reporting.

Parity target: reference ``phaser/pipeline.py`` (SURVEY.md §2.1 S5–S11, §3):

* ordered phases, each phase's saved output is the next phase's input
  (``phaser/pipeline.py:157-177``);
* per-phase checkpoint ``{phase}_output.{ext}`` with the row-number column,
  plus ``source_copy.{ext}`` (``phaser/pipeline.py:168-199,254-282``);
* working-dir management: previous outputs moved to a timestamped dir,
  collision checks (``phaser/pipeline.py:98-127``);
* extra-source init/validation (``phaser/pipeline.py:44-56,129-155``) and
  extra-output saving (``:228-235``);
* ``errors_and_warnings.txt`` report (``phaser/pipeline.py:201-216``);
* phase with ≥1 ERROR event raises after its checkpoint is saved
  (``phaser/pipeline.py:198-199``); empty phase output aborts
  (``phaser/pipeline.py:191-192``).

Engine design: each phase builds one lazy DataFrame chain and materializes
it exactly once, at its checkpoint write (parquet with engine state; CSV/JSON
user view for reference parity).  One ``Observation`` on that write counts
what the phase needs to know about itself (:func:`phase_stat_exprs`: rows,
visible and dropped rows, ERROR events, row-level events, rows per drop
tag), so the empty-output check, the fail-on-error check and the deferred
drop counts run no Spark job of their own; the numbers stay readable as
``Pipeline.phase_stats``.  A streamed micro-batch computes the same list
with one aggregate per phase over its cached output.  Events are extracted
from the checkpoint parquet — no second computation of the phase plan, no
row-level driver state — and the report collects each phase's events once,
only when the write saw some.  A phase therefore costs its checkpoint
write, one events collect when it has events, and the user-file save.
"""

from __future__ import annotations

import datetime
import os
import shutil
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .constants import (
    CSV_FORMAT,
    DROP_COL,
    DROP_STEP_COL,
    ERROR_COL,
    EVENT_ERROR,
    EVENT_ROW_COL,
    INTERNAL_COLS,
    ON_ERROR_COLLECT,
    PHASER_ROW_NUM,
    WARNING_COL,
)
from .context import EVENT_SCHEMA, Context
from .exceptions import DataException, PhaserError
from .io import (
    SavableObject,
    _hadoop_fs,
    load_any,
    normalize_event_time,
    save_any,
    save_parquet_bucketed,
    save_parquet_sorted,
)
from .lineage import _number_rows
from .phase import Phase
from .plan import CODEGEN_PROBE_MIN_WEIGHT, codegen_weight, warn_if_codegen_fallback


#: partition column of run_stream's per-micro-batch output layout
STREAM_BATCH_COL = "__phaser_batch_id__"


def extract_events(df: DataFrame, phase_name: str) -> DataFrame:
    """Derive the events DataFrame from a phase's internal checkpoint:
    errors from ``__phaser_error__``, warnings + dropped-row events from
    ``__phaser_warnings__`` (SURVEY.md §1.1 "Events")."""
    err = F.col(ERROR_COL)
    # events keep their error-time row attribution: a renumber=True phase
    # stashes the pre-renumber number in EVENT_ROW_COL (reference records
    # events at raise time, so the report must not follow the renumbering)
    rn = (
        F.coalesce(F.col(EVENT_ROW_COL), F.col(PHASER_ROW_NUM))
        if EVENT_ROW_COL in df.columns
        else F.col(PHASER_ROW_NUM)
    )
    errors = df.filter(err.isNotNull()).select(
        F.lit(phase_name).alias("phase"),
        rn.alias("row_num"),
        err["type"].alias("type"),
        F.coalesce(err["step"], err["column"]).alias("step"),
        err["message"].alias("message"),
    )
    w = F.col("w")
    warnings = (
        df.filter(F.col(WARNING_COL).isNotNull() & (F.size(WARNING_COL) > 0))
        .select(rn.alias(PHASER_ROW_NUM), F.explode(WARNING_COL).alias("w"))
        .select(
            F.lit(phase_name).alias("phase"),
            F.col(PHASER_ROW_NUM).alias("row_num"),
            w["type"].alias("type"),
            F.coalesce(w["step"], w["column"]).alias("step"),
            w["message"].alias("message"),
        )
    )
    return errors.unionByName(warnings)


def phase_stat_exprs(drop_tags: list[str]) -> list[Column]:
    """What a phase counts about itself: aggregates over its output,
    observed on the checkpoint write (see ``Pipeline.run_phase``) or, for
    a streamed micro-batch, computed over the phase's cached output.

    ``errors`` and ``events`` count exactly what :func:`extract_events`
    emits: ``errors`` is the ERROR-typed ``__phaser_error__`` values plus
    the ERROR entries inside ``__phaser_warnings__``; ``events`` is every
    row-level event.  ``drop_<i>`` counts the rows tagged ``drop_tags[i]``.
    """
    err, warns = F.col(ERROR_COL), F.col(WARNING_COL)

    def over_warnings(per_row: Column) -> Column:
        return F.coalesce(F.sum(F.when(warns.isNotNull(), per_row)), F.lit(0))

    warned_errors = F.size(F.filter(warns, lambda w: w["type"] == EVENT_ERROR))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.count_if(~F.col(DROP_COL)).alias("visible"),
        (F.count_if(err["type"] == EVENT_ERROR) + over_warnings(warned_errors)).alias(
            "errors"
        ),
        (F.count_if(err.isNotNull()) + over_warnings(F.size(warns))).alias("events"),
    ] + [
        F.count_if(F.col(DROP_STEP_COL) == tag).alias(f"drop_{i}")
        for i, tag in enumerate(drop_tags)
    ]


def _phase_stats(values: dict, drop_tags: list[str]) -> dict:
    return {
        "rows": values["rows"],
        "visible": values["visible"],
        "dropped": values["rows"] - values["visible"],
        "errors": values["errors"],
        "events": values["events"],
        "drop_tags": {tag: values[f"drop_{i}"] for i, tag in enumerate(drop_tags)},
    }


@dataclass
class _PhaseEvents:
    """An attached row-level events frame, its event count (``None`` while
    unknown) and the rows the report collected (all of them, or the first
    ``limit`` of a larger set)."""

    frame: DataFrame
    count: int | None = None
    rows: list | None = None


class Pipeline:
    """Ordered phases + I/O marshalling (reference ``phaser/pipeline.py:17-43``)."""

    phases: list = []
    save_format = CSV_FORMAT

    def __init__(
        self,
        working_dir: str | None = None,
        source: str | None = None,
        phases: list | None = None,
        verbose: bool = False,
        error_policy: str | None = None,
        name: str = "pipeline",
        spark: SparkSession | None = None,
        strict_schemas: bool = False,
    ):
        self.name = name if name != "pipeline" else (type(self).__name__ or name)
        self.working_dir = working_dir
        self.source = source
        self.spark = spark or SparkSession.active()
        self.context = Context(
            spark=self.spark,
            working_dir=working_dir,
            error_policy=error_policy or ON_ERROR_COLLECT,
            verbose=verbose,
            strict_schemas=strict_schemas,
        )
        declared = phases if phases is not None else type(self).phases
        self.phase_instances: list[Phase] = []
        for p in declared:
            if isinstance(p, Phase):
                p.context = self.context
                self.phase_instances.append(p)
            elif isinstance(p, type) and issubclass(p, Phase):
                self.phase_instances.append(p(context=self.context))
            else:
                raise PhaserError(f"{p!r} is not a Phase or Phase subclass")
        self._init_paths: dict[str, str] = {}
        self.checkpoints: dict[str, str] = {}
        # attached events frames the report has seen or whose count is
        # known, by id() (each entry holds its frame, so an id is never
        # reused while its entry exists)
        self._phase_events: dict[int, _PhaseEvents] = {}
        self.check_output_collision()

    @property
    def phase_stats(self) -> dict[str, dict]:
        """Per phase, the numbers its checkpoint write observed (in memory
        only): ``rows``, ``visible`` and ``dropped`` rows, ``errors``
        (ERROR events) and ``events`` (row-level events), and
        ``drop_tags`` mapping each drop tag minted in the phase to the
        rows it dropped."""
        return self.context.phase_stats

    # -- extra sources (phaser/pipeline.py:44-56,129-155) -------------------
    def init_source(self, name: str, path: str) -> None:
        self._init_paths[name] = path

    def _declared_outputs(self) -> set:
        return {o.name for ph in self.phase_instances for o in ph.extra_outputs}

    def validate_sources(self) -> None:
        produced = set(self._init_paths)
        for ph in self.phase_instances:
            for spec in ph.extra_sources:
                n = spec.name if isinstance(spec, SavableObject) else str(spec)
                if n not in produced and not self.context.has_source(n):
                    raise PhaserError(
                        f"Extra source '{n}' needed by phase {ph.name} is neither "
                        "initialized (init_source) nor produced by an earlier phase"
                    )
            produced |= {o.name for o in ph.extra_outputs}
        self._load_init_sources()

    def _load_init_sources(self) -> None:
        """Load every ``init_source`` path into the context as the object
        a phase declares for that name (e.g. an ``ExtraMapping``, so a row
        step receives its dict form), or as a plain ``SavableObject`` when
        no phase declares one."""
        declared = {
            spec.name: spec
            for ph in self.phase_instances
            for spec in ph.extra_sources
            if isinstance(spec, SavableObject)
        }
        for n, path in self._init_paths.items():
            obj = declared.get(n) or SavableObject(n)
            obj.load(self.spark, path)
            self.context.set_source(obj)

    # -- working dir (phaser/pipeline.py:98-127) -----------------------------
    def check_output_collision(self) -> None:
        names = [f"{ph.name}_output" for ph in self.phase_instances]
        dupes = {n for n in names if names.count(n) > 1}
        if dupes:
            raise PhaserError(f"Phase output name collision: {sorted(dupes)}")

    def cleanup_working_dir(self) -> None:
        if not self.working_dir or not os.path.isdir(self.working_dir):
            return
        leftovers = [
            f
            for f in os.listdir(self.working_dir)
            if f.endswith((".csv", ".json", ".txt", ".parquet"))
            or f.endswith("_output")
        ]
        if not leftovers:
            return
        stamp = datetime.datetime.now().strftime("%Y%m%d-%H%M%S")
        dest = os.path.join(self.working_dir, f"{self.name}-{stamp}")
        os.makedirs(dest, exist_ok=True)
        for f in leftovers:
            shutil.move(os.path.join(self.working_dir, f), os.path.join(dest, f))

    # -- run (phaser/pipeline.py:157-199) ------------------------------------
    def load(self, source: str) -> DataFrame:
        return load_any(self.spark, source, None)

    def run(self, source: str | DataFrame | None = None) -> DataFrame:
        df = self._start_run(source)
        for ph in self.phase_instances:
            df = self.run_phase(ph, df)
        return df

    def _start_run(self, source: str | DataFrame | None) -> DataFrame:
        """What every run does before its first phase: check the source,
        prepare the working dir, validate extra sources, load the source
        and write ``source_copy``.  Returns the loaded source."""
        self.source = source if source is not None else self.source
        if self.source is None:
            raise PhaserError("Pipeline needs a source")
        if self.working_dir:
            os.makedirs(self.working_dir, exist_ok=True)
            self.cleanup_working_dir()
        self.validate_sources()
        # engine addition: accept a live DataFrame source (the reference's
        # Phase.load_data accepts in-memory data, phaser/phase.py:31-49 —
        # this lifts the same convenience to the pipeline level)
        if isinstance(self.source, DataFrame):
            df = self.source
        else:
            df = self.load(self.source)
        if self.working_dir:
            src_copy = os.path.join(self.working_dir, f"source_copy.{self.save_format}")
            save_any(self._source_copy_frame(df), src_copy, self.save_format)
        return df

    def _source_copy_frame(self, df: DataFrame) -> DataFrame:
        """What to write as ``source_copy``.  CSV/JSON copies mirror the
        reference's human-readable source snapshot (single-file sinks, so
        ingest order survives a later re-number).  Columnar copies keep
        the row-number column: parquet/orc write MANY part files, and a
        re-number at diff time would follow Spark's size-ordered split
        packing, not ingest order — the differ would then join nearly
        every row against the wrong counterpart."""
        if self.save_format in ("parquet", "orc") and PHASER_ROW_NUM in df.columns:
            return df
        return df.drop(PHASER_ROW_NUM)

    def _checkpoint_table_name(self, ph: Phase) -> str:
        raw = f"phaser_ckpt_{self.name}_{ph.name}".lower()
        return "".join(c if c.isalnum() or c == "_" else "_" for c in raw)

    def run_phase(self, ph: Phase, df: DataFrame) -> DataFrame:
        out = ph.run(df)
        # test-compile the phase's fused stages and warn on janino fallback
        # (an all-axes phase can exceed the JVM's 64 KB method limit and
        # silently run interpreted), gated on a cheap static weight so
        # ordinary narrow phases never pay the compile
        if codegen_weight(getattr(ph, "columns", None)) >= CODEGEN_PROBE_MIN_WEIGHT:
            warn_if_codegen_fallback(out, f"phase {ph.name}")
        # Materialize exactly once: the internal parquet checkpoint, whose
        # write also observes the phase's numbers
        drop_tags = self.context.drop_tags(ph.name)
        stat_exprs = phase_stat_exprs(drop_tags)
        observation = Observation()

        def observe(frame: DataFrame) -> DataFrame:
            return frame.observe(observation, *stat_exprs)

        materialized = True
        internal_path = None
        part_by = getattr(ph, "checkpoint_partition_by", None)
        for layout in (
            "checkpoint_partition_by", "checkpoint_bucket_by", "checkpoint_sort_by"
        ):
            missing = [c for c in getattr(ph, layout, None) or [] if c not in out.columns]
            if missing:
                raise PhaserError(
                    f"Phase {ph.name}: {layout} columns {missing} not in phase "
                    f"output {sorted(set(out.columns) - set(INTERNAL_COLS))}"
                )
        if part_by and ph.checkpoint_bucket_by:
            raise PhaserError(
                f"Phase {ph.name}: checkpoint_partition_by and "
                "checkpoint_bucket_by cannot combine (the bucketed "
                "checkpoint is a catalog table; partition the bucketed "
                "table externally if both layouts are needed)"
            )
        if ph.checkpoint_bucket_by:
            # Bucketed checkpoint: write a catalog-registered bucketed
            # table so downstream joins/aggs on the bucket key read a
            # pre-shuffled layout (zero Exchange — see
            # tests/test_plans.py::test_bucketed_checkpoint_*).  The
            # catalog entry is what carries the bucketing metadata; a
            # plain .parquet() re-read would forget it.
            table = self._checkpoint_table_name(ph)
            internal_path = (
                os.path.join(self.working_dir, f".{ph.name}_state.bucketed")
                if self.working_dir
                else None
            )
            save_parquet_bucketed(
                observe(out),
                table,
                bucket_cols=ph.checkpoint_bucket_by,
                num_buckets=ph.checkpoint_num_buckets,
                sort_cols=ph.checkpoint_bucket_by,
                path=internal_path,
            )
            out = self.spark.table(table)
        elif self.working_dir:
            internal_path = os.path.join(self.working_dir, f".{ph.name}_state.parquet")
            # capture the writer-side schema + column order: a partitioned
            # read-back otherwise applies partition-column type inference
            # (string '007' -> int 7, date-looking strings -> DATE) and
            # moves partition columns to the end of the schema
            written_schema, written_cols = out.schema, out.columns
            if ph.checkpoint_sort_by:
                # range-clustered checkpoint: row groups carry near-disjoint
                # min/max ranges on the sort columns, so downstream
                # predicates on them skip row groups at scan time
                save_parquet_sorted(
                    out,
                    internal_path,
                    sort_cols=ph.checkpoint_sort_by,
                    num_files=ph.checkpoint_num_files,
                    partition_by=part_by,
                    before_write=observe,
                )
            elif part_by:
                observe(out).write.mode("overwrite").partitionBy(*part_by).parquet(
                    internal_path
                )
            else:
                observe(out).write.mode("overwrite").parquet(internal_path)
            # read back with the writer's schema so partition columns keep
            # their declared type and value, then restore column order
            out = (
                self.spark.read.schema(written_schema)
                .parquet(internal_path)
                .select(*written_cols)
            )
        else:
            if ph.checkpoint_sort_by:
                import warnings

                warnings.warn(
                    f"Phase {ph.name}: checkpoint_sort_by is set but the "
                    "pipeline has no working_dir — nothing is materialized, "
                    "so no sorted layout is written (set working_dir to get "
                    "the range-clustered checkpoint)",
                    stacklevel=2,
                )
            out = out.cache()
            materialized = False
        # the write filled the observation; without one, a single
        # aggregate over the cached frame computes the same numbers
        values = (
            observation.get
            if materialized
            else out.agg(*stat_exprs).first().asDict()
        )
        stats = self.context.phase_stats[ph.name] = _phase_stats(values, drop_tags)
        if materialized:
            # parquet/bucketed checkpoint written above == the numbered
            # plan is durably materialized, so inputs pinned for stable
            # numbering can be released (a long pipeline would otherwise
            # accumulate one cached DataFrame per numbering call)
            from .lineage import release_pinned

            # scoped to THIS pipeline's context — a second pipeline (or a
            # streaming query) in the same session keeps its own pins
            release_pinned(self.context.pinned_inputs)

        events = self.context.add_event_df(extract_events(out, ph.name))
        self._phase_events[id(events)] = _PhaseEvents(events, stats["events"])
        self.context.phase_checkpoints[ph.name] = out

        visible = out.filter(~F.col(DROP_COL)).drop(*INTERNAL_COLS)
        if self.working_dir:
            user_path = os.path.join(
                self.working_dir, f"{ph.name}_output.{self.save_format}"
            )
            # the compute-fanout repartition (spread_for_compute) leaves the
            # checkpoint in shuffle order; the user-visible file contract is
            # ingest order (reference behavior), so the sink orders by the
            # lineage column — inside its one write task for a single file
            order_by = PHASER_ROW_NUM if PHASER_ROW_NUM in visible.columns else None
            save_any(visible, user_path, self.save_format, order_by=order_by)
            self.checkpoints[ph.name] = user_path
        self.save_extra_outputs()
        self.report_errors_and_warnings()

        if stats["visible"] == 0:
            raise DataException(
                f"Phase {ph.name} produced zero rows — stopping "
                "(reference phaser/pipeline.py:191-192)"
            )
        if stats["errors"] or any(
            e["phase"] == ph.name and e["type"] == EVENT_ERROR
            for e in self.context.driver_events
        ):
            raise DataException(
                f"Phase {ph.name} failed with errors; see "
                "errors_and_warnings.txt (reference phaser/pipeline.py:198-199)"
            )
        return visible

    # -- streaming (engine addition; the reference is strictly batch) --------
    #: state-store backends for stateful streaming (providerClass values)
    STATE_STORE_PROVIDERS = {
        "rocksdb": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "hdfs": (
            "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider"
        ),
    }

    def run_stream(
        self,
        stream_df: DataFrame,
        output_path: str,
        checkpoint_dir: str | None = None,
        available_now: bool = True,
        events_path: str | None = None,
        event_time: str | None = None,
        watermark_delay: str | None = None,
        event_time_unit: str = "nanos",
        dedup_within_watermark: list[str] | None = None,
        state_store: str | None = None,
        state_store_confs: dict | None = None,
    ):
        """Run the SAME declarative phase pipeline over a streaming source.

        Each micro-batch flows through every phase via ``foreachBatch`` —
        column contracts, error policies, steps, and quarantine behave
        exactly as in batch mode; surviving rows land in ``output_path``
        (parquet, partitioned by ``__phaser_batch_id__``).  Row numbers
        stay globally consistent across batches: batch N+1 continues from
        batch N's max (the reference's max+1 rule for new rows,
        phaser/records.py:60-92).

        Exactly-once output: each batch OVERWRITES its own
        ``__phaser_batch_id__`` partition (dynamic partition overwrite), so
        a micro-batch retry or a restart-from-checkpoint replay replaces
        its previous attempt instead of appending duplicates; the batch's
        numbering start is derived from the max row number over *earlier*
        batch partitions in the output table itself (never from driver
        memory, which a restart would reset).

        Each phase's per-batch numbers come from one aggregate over its
        cached output: the :func:`phase_stat_exprs` a batch run observes on
        its checkpoint write, plus the numbering high-water mark.  They
        decide whether the batch failed, resolve the deferred drop counts
        without a Spark job, and stay readable as ``Pipeline.phase_stats``,
        which holds the latest micro-batch's numbers.

        Driver memory is bounded for continuous runs: per-batch caches are
        unpersisted after the write, and — when
        ``events_path`` is given — row-level and driver events flush to a
        parquet events table per batch instead of accumulating on the
        driver.  Without ``events_path``, row-level events are retained on
        the context only in ``available_now`` (drain) mode, where the
        stream is finite by construction.

        ``available_now=True`` drains existing input then stops
        (batch-parity mode, used by tests); pass ``False`` for a
        continuously running query.

        ``event_time`` names the source's event-time column: it is
        normalized to ``TIMESTAMP`` via
        :func:`phaser_spark.io.normalize_event_time` (accepting
        ``TIMESTAMP_NTZ``, epoch-``bigint``, string, or already-LTZ
        sources — parquet writers disagree on physical timestamp
        encodings, and ``withWatermark`` hard-rejects NTZ), and — when
        ``watermark_delay`` is also given (e.g. ``"10 minutes"``) — a
        watermark is applied before the phases run, bounding state for
        any stateful operators downstream.  ``event_time_unit``
        (``nanos``/``micros``/``millis``/``seconds``, default ``nanos``)
        names the epoch unit when the source column is a ``bigint`` —
        millis silently read as nanos would collapse every instant to
        ~1970 and the watermark would then drop all rows.

        ``dedup_within_watermark`` deduplicates arriving rows on the given
        key columns BEFORE the phases run, with state that the watermark
        actually evicts (``dropDuplicatesWithinWatermark``).  This is the
        100 TB streaming-dedup setting: a plain ``dropDuplicates(keys)``
        whose keys exclude the event-time column keeps every key it has
        ever seen in the state store forever — the watermark does not
        bound that state, only window/event-time-keyed state.  The
        trade-off is semantic: a duplicate arriving more than
        ``watermark_delay`` after its first occurrence is emitted again
        (state for the key was already evicted), so this is
        exactly-once-per-key *within the watermark horizon*, not
        globally.  Requires ``event_time`` and ``watermark_delay``.

        ``state_store`` selects the state-store backend for stateful
        operators in the streaming plan: ``"rocksdb"`` (off-heap,
        disk-spilling — keyed state is bounded by local disk instead of
        executor heap, the 100 TB setting), ``"hdfs"`` (Spark's default
        in-memory provider), a fully-qualified provider class name, or
        ``None`` to leave the session's configuration untouched.  The
        provider is pinned on the session conf just before ``start()``
        (Structured Streaming snapshots session confs into the query at
        start) and the previous value is restored afterwards.

        ``state_store_confs`` pins additional state-store confs for the
        query the same way (set before start, restored after).  The one
        that matters first at scale:
        ``{"spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true"}`` — with plain RocksDB checkpointing every commit uploads
        a full state snapshot; changelog checkpointing uploads only the
        batch's delta, turning per-batch checkpoint cost from
        O(state size) into O(batch writes).
        """
        from pyspark.sql import functions as SF

        if event_time is not None:
            # NTZ/string/date event times are cast THROUGH the session
            # timezone: on a non-UTC session the normalized instants (and
            # the watermark) silently shift vs the writer's wall clock.
            dt = dict(stream_df.dtypes).get(event_time)
            if dt in ("timestamp_ntz", "string", "date"):
                tz = self.spark.conf.get("spark.sql.session.timeZone", "")
                if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
                    import warnings

                    warnings.warn(
                        f"run_stream: event-time column '{event_time}' is "
                        f"{dt} and the session timezone is '{tz}' (not UTC) "
                        "— wall-clock values will be interpreted in that "
                        "zone; pin spark.sql.session.timeZone to the "
                        "writer's zone (usually UTC) for stable instants.",
                        stacklevel=2,
                    )
            stream_df = normalize_event_time(
                stream_df, event_time, long_unit=event_time_unit
            )
            if watermark_delay is not None:
                stream_df = stream_df.withWatermark(event_time, watermark_delay)
        elif watermark_delay is not None:
            raise PhaserError("run_stream: watermark_delay requires event_time")
        if dedup_within_watermark is not None:
            if event_time is None or watermark_delay is None:
                raise PhaserError(
                    "run_stream: dedup_within_watermark requires event_time "
                    "and watermark_delay (the watermark is what bounds and "
                    "evicts the dedup state)"
                )
            stream_df = stream_df.dropDuplicatesWithinWatermark(
                list(dedup_within_watermark)
            )

        # extra sources load exactly as in batch mode (run() does this via
        # validate_sources; skipping it here killed the first micro-batch
        # of any phase using an init_source'd lookup)
        self.validate_sources()
        renum = [ph.name for ph in self.phase_instances if ph.renumber]
        if renum:
            raise PhaserError(
                f"run_stream: phase(s) {renum} set renumber=True, which "
                "restarts numbering at 1 every micro-batch and breaks the "
                "cross-batch max+1 contract — renumber the finished output "
                "table in a batch pass instead"
            )

        BATCH_COL = STREAM_BATCH_COL
        state: dict = {"next_start": None, "last_batch": None}

        def _max_before(path: str, batch_id: int, num_col: str):
            # ONLY "table does not exist yet" means start fresh, checked
            # before reading (a failed read of a missing path makes Spark
            # log a listener stack trace on every fresh stream); any read
            # failure (throttling, listing timeout) must fail the batch so
            # the retry renumbers correctly — swallowing it would restart
            # numbering at 1 over existing rows
            fs, jpath = _hadoop_fs(self.spark, path)
            if not fs.exists(jpath):
                return None
            existing = self.spark.read.parquet(path)
            if BATCH_COL not in existing.columns or num_col not in existing.columns:
                return None
            return (
                existing.filter(F.col(BATCH_COL) < batch_id)
                .agg(SF.max(num_col))
                .first()[0]
            )

        def start_for(batch_id: int) -> int:
            """max+1 over batches strictly before this one, read from the
            output table — and the events table when one is kept, whose
            dropped rows consumed numbers the visible output no longer
            shows — correct after restart AND after a same-batch retry
            (whose own partial output must not shift numbering)."""
            his = [_max_before(output_path, batch_id, PHASER_ROW_NUM)]
            if events_path is not None:
                his.append(_max_before(events_path, batch_id, "row_num"))
            his = [h for h in his if h is not None]
            return int(max(his)) + 1 if his else 1

        def write_partition(df: DataFrame, path: str, batch_id: int) -> None:
            (
                df.withColumn(BATCH_COL, SF.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BATCH_COL)
                .parquet(path)
            )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            def first_number() -> int:
                if (
                    state["next_start"] is None
                    or state["last_batch"] is None
                    or batch_id <= state["last_batch"]
                ):
                    state["next_start"] = start_for(batch_id)
                return state["next_start"]

            # batch-scoped pin: the numbering cache is released at the end
            # of THIS foreachBatch call (the global list would grow one
            # entry per micro-batch for the stream's lifetime)
            batch_pins: list[DataFrame] = []
            caches: list[DataFrame] = []
            try:
                if PHASER_ROW_NUM in batch_df.columns:
                    # numbered upstream (a phaser output read as a stream)
                    df, empty = batch_df, batch_df.isEmpty()
                else:
                    df, rows = _number_rows(
                        batch_df, first_number, cache=True, pins=batch_pins
                    )
                    empty = rows == 0
                # an empty batch (the numbering's count says so) writes
                # nothing, takes no numbers and reads no start
                if empty:
                    return
                # numbering high-water mark over EVERY phase's full output
                # (dropped rows included): a row dropped in phase k is
                # filtered out before phase k+1 runs, so the LAST phase
                # alone would miss its number and the next batch would
                # reuse it — even though its DROPPED_ROW event (and the
                # restart probe over the events table) still refers to it.
                # Later phases count too: batch steps may ADD rows
                # numbered max+1 that exist in no earlier phase.
                his = []
                batch_events: list[_PhaseEvents] = []
                errors = 0
                for ph in self.phase_instances:
                    out = ph.run(df).cache()
                    caches.append(out)
                    drop_tags = self.context.drop_tags(ph.name)
                    exprs = phase_stat_exprs(drop_tags)
                    exprs.append(SF.max(PHASER_ROW_NUM).alias("max_row"))
                    values = out.agg(*exprs).first().asDict()
                    stats = _phase_stats(values, drop_tags)
                    self.context.phase_stats[ph.name] = stats
                    his.append(values["max_row"])
                    errors += stats["errors"]
                    batch_events.append(
                        _PhaseEvents(extract_events(out, ph.name), stats["events"])
                    )
                    df = out.filter(~F.col(DROP_COL)).drop(*INTERNAL_COLS)
                if not caches:
                    his.append(df.agg(SF.max(PHASER_ROW_NUM)).first()[0])
                write_partition(df, output_path, batch_id)
                his = [h for h in his if h is not None]
                if his:
                    state["next_start"] = int(max(his)) + 1
                state["last_batch"] = batch_id
                # resolve deferred drop-count events from the numbers above
                self.context._resolve_deferred()
                # batch-mode parity probe BEFORE any mode branch clears
                # driver events: a phase whose collected errors would abort
                # run_phase must also fail (and thereby stop) the stream,
                # not silently keep writing rows carrying errors
                has_errors = errors > 0 or any(
                    e["type"] == EVENT_ERROR for e in self.context._driver_events
                )
                if events_path is not None and batch_events:
                    ev = reduce(
                        DataFrame.unionByName, [pe.frame for pe in batch_events]
                    )
                    driver_ev = self.context._driver_events
                    if driver_ev:
                        ev = ev.unionByName(
                            self.spark.createDataFrame(driver_ev, ev.schema)
                        )
                        self.context._driver_events = []
                    write_partition(ev, events_path, batch_id)
                elif available_now:
                    # finite drain: retain for batch-parity reporting, with
                    # the count the report needs.  localCheckpoint (not
                    # cache): the lineage reads this batch's DataFrame,
                    # which is invalid once this foreachBatch call returns
                    # — a lost cached block would recompute from a dead plan
                    for pe in batch_events:
                        if pe.count:
                            pe.frame = self.context.add_event_df(
                                pe.frame.localCheckpoint(eager=True)
                            )
                            self._phase_events[id(pe.frame)] = pe
                else:
                    # continuous mode without an events table: nothing will
                    # ever read these; cap instead of leaking driver heap
                    # one batch at a time, forever
                    if len(self.context._driver_events) > 10_000:
                        del self.context._driver_events[:-10_000]
                if has_errors:
                    raise DataException(
                        f"Errors collected in micro-batch {batch_id} (error "
                        f"policy {self.context.error_policy}); stream aborted "
                        "— batch parity with Pipeline.run_phase"
                    )
            finally:
                # also on failure: Structured Streaming retries the batch,
                # and every leaked cache/pin from a failed attempt would
                # stay in executor storage for the stream's lifetime
                for c in caches:
                    c.unpersist()
                from .lineage import release_pinned

                # the batch numbering pin (batch_df.cache()) plus any pins
                # the phases registered on the context during this batch
                release_pinned(batch_pins)
                release_pinned(self.context.pinned_inputs)
                batch_df.unpersist()

        writer = stream_df.writeStream.foreachBatch(process)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)

        _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
        pinned: dict[str, str] = {}
        if state_store is not None:
            provider = self.STATE_STORE_PROVIDERS.get(state_store, state_store)
            if "." not in provider:
                raise PhaserError(
                    f"run_stream: unknown state_store '{state_store}' "
                    f"(expected {sorted(self.STATE_STORE_PROVIDERS)} or a "
                    "fully-qualified provider class)"
                )
            pinned[_PROVIDER_KEY] = provider
        pinned.update(state_store_confs or {})
        # get(key, None) distinguishes "explicitly set" from "Spark
        # default" — get(key) would return the built-in default and the
        # restore below would then pin it explicitly
        previous = {k: self.spark.conf.get(k, None) for k in pinned}
        for k, v in pinned.items():
            self.spark.conf.set(k, v)
        try:
            if available_now:
                q = writer.trigger(availableNow=True).start()
                q.awaitTermination()
                return q
            return writer.start()
        finally:
            # the started query has already snapshotted the session confs;
            # restore so later queries on this session are unaffected
            for k, old in previous.items():
                if old is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, old)

    def compact_stream_output(
        self, output_path: str, target_file_bytes: int = 128 * 1024 * 1024
    ) -> dict:
        """Compact a ``run_stream`` output table's per-micro-batch small
        files into ~target-sized ones (see
        :func:`phaser_spark.io.compact_parquet_output`).  Run while the
        stream is stopped/paused; numbering and batch partitions are
        preserved, so the stream resumes cleanly afterwards."""
        from .io import compact_parquet_output

        return compact_parquet_output(
            self.spark,
            output_path,
            partition_col=STREAM_BATCH_COL,
            target_file_bytes=target_file_bytes,
        )

    # -- outputs & reporting -------------------------------------------------
    def save_extra_outputs(self) -> None:
        if not self.working_dir:
            return
        for ph in self.phase_instances:
            for o in ph.extra_outputs:
                if o.df is not None and o.to_save:
                    o.save(self.working_dir)

    def report_errors_and_warnings(self, limit: int = 10000) -> str:
        """Text report (phaser/pipeline.py:201-216): events grouped per
        phase.  Row-level events are truncated at ``limit`` — the full set
        stays queryable as a DataFrame (``context.events_df()``)."""
        lines = []
        by_phase: dict[str, list] = {}
        for e in self._report_events(limit):
            by_phase.setdefault(e["phase"], []).append(e)
        for phase, evs in by_phase.items():
            lines.append(f"Reporting for phase {phase}")
            for e in evs:
                loc = f" in row {e['row_num']}" if e["row_num"] is not None else ""
                step = f" during step {e['step']}" if e["step"] else ""
                lines.append(f"{e['type']}{step}{loc}: {e['message']}")
        text = "\n".join(lines) + ("\n" if lines else "")
        if self.working_dir:
            with open(
                os.path.join(self.working_dir, "errors_and_warnings.txt"), "w"
            ) as f:
                f.write(text)
        return text

    def _report_events(self, limit: int) -> list:
        """The rows of ``context.events_df().limit(limit).collect()``, in
        that order: driver events, then each attached events frame.

        A frame is collected by the first report that reaches it: not at
        all when its known event count is 0, with a plain ``collect()``
        when the count is known and fits in ``limit``, else its first
        ``limit`` rows.  The rows are kept, so a later report collects the
        frame again only when it needs more rows than a truncated collect
        kept.  A frame attached outside ``run_phase`` and ``run_stream``
        has an unknown count until a collect comes back short."""
        rows = list(self.context.driver_events)
        for frame in self.context.event_dfs:
            if len(rows) >= limit:
                break
            pe = self._phase_events.setdefault(id(frame), _PhaseEvents(frame))
            wanted = limit if pe.count is None else min(limit, pe.count)
            if pe.rows is None or len(pe.rows) < wanted:
                if pe.count == 0:
                    pe.rows = []
                elif pe.count is not None and pe.count <= limit:
                    pe.rows = frame.collect()
                else:
                    pe.rows = frame.limit(limit).collect()
                    if len(pe.rows) < limit:
                        pe.count = len(pe.rows)
            rows.extend(pe.rows)
        return rows[:limit]


class DagPipeline(Pipeline):
    """DAG-ordered pipeline: phases declare what they DEPEND ON instead
    of relying on list position (engine addition — the reference's
    Pipeline is strictly linear, with cross-phase data flow only through
    extra sources/outputs, phaser/pipeline.py:157-177; this makes that
    dependency structure first-class and resolves it).

    ``phases`` maps phase name → ``(phase, depends_on)`` where
    ``depends_on`` lists earlier phase names.  The FIRST dependency's
    checkpointed output is the phase's main input (phases with no
    dependencies read the pipeline source); every ADDITIONAL
    dependency's output is injected as an extra source named after that
    phase, so a step can declare ``extra_sources=["other_phase"]`` and
    join against it.  An extra source naming a DAG phase MUST appear in
    the consuming phase's ``depends_on`` — anything else fails at
    validation, before any phase runs — and injections are scoped to
    the declaring phase (a later phase never sees a stale side source).
    Execution order is a deterministic topological sort (alphabetical
    among ready phases); cycles and unknown dependencies fail fast at
    construction.

    Each phase still checkpoints through the standard ``run_phase``
    path — bucketed/sorted checkpoint options, error policies, events,
    and empty-result termination all behave exactly as in the linear
    Pipeline.  ``run`` returns the output of the (single) sink phase —
    the one no other phase depends on; multiple sinks error (return
    order would be ambiguous — split the pipeline or add a final join
    phase).
    """

    #: subclasses may declare the DAG as a class attribute (the same
    #: pattern as Pipeline.phases), which also makes DagPipeline
    #: subclasses runnable from the CLI ``run`` command
    phases: dict = {}

    def __init__(
        self,
        phases: dict | None = None,
        working_dir: str | None = None,
        source: str | None = None,
        verbose: bool = False,
        error_policy: str | None = None,
        name: str = "dag_pipeline",
        spark: SparkSession | None = None,
    ):
        phases = phases if phases is not None else type(self).phases
        if not isinstance(phases, dict) or not phases:
            raise PhaserError("DagPipeline needs a non-empty {name: (phase, deps)} dict")
        if name == "dag_pipeline":
            name = type(self).__name__ if type(self) is not DagPipeline else name
        parsed: dict[str, tuple] = {}
        for pname, spec in phases.items():
            if isinstance(spec, Phase) or (
                isinstance(spec, type) and issubclass(spec, Phase)
            ):
                ph, deps = spec, []
            else:
                ph, deps = spec[0], list(spec[1])
            parsed[pname] = (ph, deps)
        for pname, (_, deps) in parsed.items():
            unknown = [d for d in deps if d not in parsed]
            if unknown:
                raise PhaserError(
                    f"DagPipeline: phase {pname!r} depends on unknown {unknown}"
                )
        order: list[str] = []
        remaining = {p: set(d) for p, (_, d) in parsed.items()}
        while remaining:
            ready = sorted(p for p, d in remaining.items() if not d)
            if not ready:
                raise PhaserError(
                    f"DagPipeline: dependency cycle among {sorted(remaining)}"
                )
            for p in ready:
                order.append(p)
                del remaining[p]
            for d in remaining.values():
                d.difference_update(ready)
        self._dag_order = order
        self._dag = parsed
        super().__init__(
            working_dir=working_dir,
            source=source,
            phases=[parsed[p][0] for p in order],
            verbose=verbose,
            error_policy=error_policy,
            name=name,
            spark=spark,
        )
        consumed = {d for _, (_, deps) in parsed.items() for d in deps}
        sinks = [p for p in parsed if p not in consumed]
        if len(sinks) != 1:
            raise PhaserError(
                f"DagPipeline: need exactly one sink phase, found {sorted(sinks)}"
            )
        self._dag_sink = sinks[0]
        # phase instances by dag name (super() instantiated classes)
        self._dag_instances = dict(zip(order, self.phase_instances))

    def validate_sources(self) -> None:
        # A DAG-phase output satisfies an extra-source declaration ONLY
        # when the consuming phase lists that phase in depends_on[1:] —
        # that is exactly what run() injects.  Accepting any phase name
        # here would pass validation and then fail (or, depending on
        # alphabetical execution order, silently pick up a stale
        # injection) mid-run.
        produced_outputs: set = set()
        for pname in self._dag_order:
            ph = self._dag_instances[pname]
            _, deps = self._dag[pname]
            injected = set(deps[1:])
            # Phase-level declarations get FULL validation (as in the
            # linear pipeline); step-level names only get the DAG-wiring
            # check — a step-level name can legitimately be satisfied by
            # a phase-level inline SavableObject or a source an earlier
            # context step registers at run time, neither of which is
            # visible statically.
            inline = {
                spec.name
                for spec in ph.extra_sources
                if isinstance(spec, SavableObject) and spec.df is not None
            }
            phase_needed = [
                (spec.name if isinstance(spec, SavableObject) else str(spec))
                for spec in ph.extra_sources
                if not (isinstance(spec, SavableObject) and spec.df is not None)
            ]
            step_needed = [
                n
                for step in ph.steps
                for n in (getattr(step, "__phaser_extra_sources__", ()) or ())
            ]
            for n, strict in [(x, True) for x in phase_needed] + [
                (x, False) for x in step_needed
            ]:
                if (
                    n in inline
                    or n in self._init_paths
                    or n in produced_outputs
                    or self.context.has_source(n)
                ):
                    continue
                if n in self._dag:
                    if n not in injected:
                        raise PhaserError(
                            f"Extra source '{n}' needed by phase {ph.name} "
                            f"names DAG phase {n!r}, but {pname!r} does not "
                            "list it in depends_on — add it after the main "
                            "dependency so run() injects it"
                        )
                    continue
                if strict:
                    raise PhaserError(
                        f"Extra source '{n}' needed by phase {ph.name} is "
                        "neither initialized, produced by a phase, nor a "
                        "DAG dependency"
                    )
            produced_outputs |= {o.name for o in ph.extra_outputs}
        self._load_init_sources()

    def run(self, source: str | DataFrame | None = None) -> DataFrame:
        src = self._start_run(source)
        outputs: dict[str, DataFrame] = {}
        for pname in self._dag_order:
            ph = self._dag_instances[pname]
            _, deps = self._dag[pname]
            main = outputs[deps[0]] if deps else src
            # later dependencies become named side sources for this run;
            # side data has no row identity (reference ExtraRecords
            # semantics) — dropping the lineage column also keeps a join
            # against it from colliding with the main frame's numbering
            replaced = {}
            # dict.fromkeys: a duplicate name in depends_on must not
            # overwrite the saved pre-injection value with the injected
            # frame (that would "restore" the injection and leak it)
            for extra in dict.fromkeys(deps[1:]):
                side = outputs[extra]
                if PHASER_ROW_NUM in side.columns:
                    side = side.drop(PHASER_ROW_NUM)
                replaced[extra] = self.context.rwos.get(extra)
                self.context.set_source(
                    SavableObject(extra, df=side, to_save=False)
                )
            try:
                outputs[pname] = self.run_phase(ph, main)
            finally:
                # injections are scoped to this phase: a later phase that
                # did not declare the dependency must not see a stale side
                # source — restored even when the phase fails, so a caller
                # catching the error sees a clean context
                for extra, prev in replaced.items():
                    if prev is None:
                        self.context.rwos.pop(extra, None)
                    else:
                        self.context.rwos[extra] = prev
        return outputs[self._dag_sink]

    def run_stream(self, *a, **kw):
        raise PhaserError(
            "DagPipeline does not support run_stream: foreachBatch routes "
            "micro-batches through the LINEAR phase list and would ignore "
            "the DAG's side-input wiring. Run the dependency phases as "
            "batch jobs and stream through a linear Pipeline, or flatten "
            "the DAG."
        )
