"""Cross-phase shared state: variables, events, side datasets.

Parity target: reference ``phaser/context.py:14-33`` — a Context carries
user variables, the error/warning/dropped-row event log, and named side
datasets ("rwos") between phases.

Scale design (SURVEY.md §7.1 "Events are data"): the reference keeps every
event in a driver dict keyed by (phase, row_num)
(``phaser/context.py:26,40-76``) — at 100 TB a single bad file would OOM
the driver.  Here row-level events live in **DataFrames** (derived from the
in-row error/warning columns at checkpoint time); only driver-originated
summary events (e.g. "filter_rows dropped N rows") are plain Python rows.
``events_df()`` unions both views for reporting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import (
    EVENT_DROPPED_ROW,
    EVENT_ERROR,
    EVENT_WARNING,
    ON_ERROR_COLLECT,
    PHASER_ROW_NUM,
    normalize_policy,
)
from .exceptions import PhaserError
from .io import SavableObject

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("phase", T.StringType()),
        T.StructField("row_num", T.LongType()),
        T.StructField("type", T.StringType()),
        T.StructField("step", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)


class Context:
    """Shared pipeline state (reference ``phaser/context.py:14-33``)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        working_dir: str | None = None,
        error_policy: str = ON_ERROR_COLLECT,
        verbose: bool = False,
        strict_schemas: bool = False,
    ):
        self.spark = spark or SparkSession.active()
        self.working_dir = working_dir
        self.error_policy = normalize_policy(error_policy, where="error_policy")
        self.verbose = verbose
        # strict_schemas=True turns the 10-row sample-inference warning for
        # schema-less row_steps into an error: at scale, a sparse column
        # the sample misses would otherwise be dropped SILENTLY
        self.strict_schemas = strict_schemas
        self.current_phase: str = "__pipeline__"
        self.variables: dict = {}
        # the phase's CURRENT physical-order spec: list of column names an
        # in-phase sort_by established (None = original row-number order).
        # The reference's list model makes "row order" implicit pipeline
        # state; here order-consuming steps (drop_duplicate_rows'
        # keep-LAST) read this instead — reset at each phase start.
        self.sort_state: list[str] | None = None
        # driver-originated events: list of dicts matching EVENT_SCHEMA
        self._driver_events: list[dict] = []
        # lazily-computed events (e.g. dropped-row counts that need a Spark
        # job): resolved on first read of the event log, i.e. after the
        # phase's real action — never as extra mid-plan jobs
        self._deferred_resolvers: list = []
        # row-level event DataFrames extracted at phase checkpoints
        self.event_dfs: list[DataFrame] = []
        # materialized phase checkpoints (set by Pipeline.run_phase):
        # deferred drop-count resolvers read these instead of re-executing
        # the pre-filter plan
        self.phase_checkpoints: dict[str, DataFrame] = {}
        # numbers each phase's checkpoint write observed (set by
        # Pipeline.run_phase, see Pipeline.phase_stats): deferred drop
        # counts read their tag's count here without a Spark job
        self.phase_stats: dict[str, dict] = {}
        # named side datasets (reference "rwos", phaser/context.py:28-33)
        self.rwos: dict[str, SavableObject] = {}
        # per-(phase, step-name) sequence for DROP_STEP_COL tags: reset at
        # each phase start so the Nth same-named dropping step in a phase
        # always tags "name#N" — deterministic across processes, which lets
        # a FRESH process resolve deferred drop counts from a checkpoint
        # written by a previous run (a process-global counter would drift
        # with unrelated step construction)
        self._drop_tag_counts: dict[tuple[str, str], int] = {}
        # DataFrames pinned (cached) for stable row numbering, scoped to
        # THIS pipeline: released by run_phase once the numbered plan is
        # durably checkpointed.  Scoping per context keeps one pipeline's
        # checkpoint from unpersisting another's still-unmaterialized input
        self.pinned_inputs: list[DataFrame] = []

    def next_drop_tag(self, name: str) -> str:
        key = (self.current_phase, name)
        n = self._drop_tag_counts.get(key, 0)
        self._drop_tag_counts[key] = n + 1
        return f"{name}#{n}"

    def drop_tags(self, phase: str) -> list[str]:
        """Every DROP_STEP_COL tag minted in ``phase`` since it started."""
        return [
            f"{name}#{i}"
            for (p, name), n in self._drop_tag_counts.items()
            if p == phase
            for i in range(n)
        ]

    def reset_drop_tags(self, phase: str) -> None:
        for key in [k for k in self._drop_tag_counts if k[0] == phase]:
            del self._drop_tag_counts[key]

    # -- variables (phaser/context.py "add_variable/get") -------------------
    def add_variable(self, name: str, value) -> None:
        self.variables[name] = value

    def get(self, name: str, default=None):
        return self.variables.get(name, default)

    # -- events -------------------------------------------------------------
    def add_event(
        self,
        event_type: str,
        message: str,
        step: str | None = None,
        row_num: int | None = None,
        phase: str | None = None,
    ) -> None:
        self._driver_events.append(
            {
                "phase": phase or self.current_phase,
                "row_num": row_num,
                "type": event_type,
                "step": step,
                "message": message,
            }
        )
        if self.verbose:
            print(f"[{event_type}] {phase or self.current_phase}/{step}: {message}")

    @staticmethod
    def _normalize_event_args(step_or_message, row, message):
        """Accept both the reference signature ``add_warning(step, row,
        message)`` (phaser/context.py:48-76) and the short form
        ``add_warning(message)``."""
        if message is None:
            return None, None, str(step_or_message)
        step = getattr(step_or_message, "__name__", None) or (
            str(step_or_message) if step_or_message is not None else None
        )
        row_num = None
        if isinstance(row, dict):
            row_num = row.get(PHASER_ROW_NUM)
        elif isinstance(row, int):
            row_num = row
        return step, row_num, str(message)

    def add_error(self, step_or_message, row=None, message=None, stack_info=None, phase=None) -> None:
        step, row_num, msg = self._normalize_event_args(step_or_message, row, message)
        self.add_event(EVENT_ERROR, msg, step=step, row_num=row_num, phase=phase)

    def add_warning(self, step_or_message, row=None, message=None, stack_info=None, phase=None) -> None:
        step, row_num, msg = self._normalize_event_args(step_or_message, row, message)
        self.add_event(EVENT_WARNING, msg, step=step, row_num=row_num, phase=phase)

    def add_dropped_row(self, step_or_message, row=None, message=None, stack_info=None, phase=None) -> None:
        step, row_num, msg = self._normalize_event_args(step_or_message, row, message)
        self.add_event(EVENT_DROPPED_ROW, msg, step=step, row_num=row_num, phase=phase)

    def add_deferred_event(self, resolver) -> None:
        """Register a lazily-computed event.

        ``resolver()`` performs its own ``add_*`` calls (it receives no
        arguments; capture what you need, including ``phase=`` for correct
        attribution).  Resolvers run on first read of the event log — in
        the Pipeline flow that is *after* the phase checkpoint action, so a
        count job can reuse shuffle output instead of forcing an extra full
        execution mid-plan.  Queries that never read events never pay."""
        self._deferred_resolvers.append(resolver)

    def _resolve_deferred(self) -> None:
        pending, self._deferred_resolvers = self._deferred_resolvers, []
        for resolver in pending:
            resolver()

    @property
    def driver_events(self) -> list[dict]:
        self._resolve_deferred()
        return self._driver_events

    def add_event_df(self, df: DataFrame) -> DataFrame:
        """Attach a row-level events DataFrame (columns per EVENT_SCHEMA);
        returns the attached frame."""
        self.event_dfs.append(df.select([f.name for f in EVENT_SCHEMA.fields]))
        return self.event_dfs[-1]

    def events_df(self) -> DataFrame:
        out = self.spark.createDataFrame(self.driver_events or [], EVENT_SCHEMA)
        for df in self.event_dfs:
            out = out.unionByName(df)
        return out

    def phase_events(self, phase: str) -> DataFrame:
        return self.events_df().filter(F.col("phase") == phase)

    def phase_has_errors(self, phase: str) -> bool:
        """True if the phase logged ≥1 ERROR event
        (reference ``phaser/context.py:84-90``)."""
        if any(
            e["phase"] == phase and e["type"] == EVENT_ERROR for e in self.driver_events
        ):
            return True
        for df in self.event_dfs:
            if not df.filter(
                (F.col("phase") == phase) & (F.col("type") == EVENT_ERROR)
            ).isEmpty():
                return True
        return False

    # -- side datasets --------------------------------------------------------
    def set_source(self, obj: SavableObject) -> None:
        self.rwos[obj.name] = obj

    def get_source(self, name: str) -> SavableObject:
        if name not in self.rwos:
            raise PhaserError(
                f"Extra source '{name}' not initialized — declare it on the "
                "Pipeline or produce it in an earlier phase "
                "(reference phaser/pipeline.py:129-155)"
            )
        return self.rwos[name]

    def has_source(self, name: str) -> bool:
        return name in self.rwos
