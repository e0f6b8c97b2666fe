"""Step decorators: the user-function surface of the engine.

Parity target: reference ``phaser/steps.py`` (SURVEY.md §2.4):

* ``row_step``       — ``f(row, context=?, **extras) -> dict``
  (``phaser/steps.py:108-133``)
* ``batch_step``     — whole-dataset function (``phaser/steps.py:135-162``)
* ``dataframe_step`` — whole-dataset function, DataFrame-flavored
  (``phaser/steps.py:164-212``)
* ``context_step``   — driver-side ``f(context)`` (``phaser/steps.py:215-229``)

Execution model differences (Spark-first, SURVEY.md §7.1):

* ``row_step`` compiles to **``mapInArrow``** — Arrow-batched, dict-per-row
  adapter, executed on executors, handing the function plain Python
  values as the reference does (NaN, ``None``, ``int``, ``list``,
  ``dict``, naive ``datetime``: :func:`batch_rows`).  Rows already
  quarantined by an ERROR event pass through *unchanged* (reference
  row-skip semantics, ``phaser/phase.py:90-91,101-105``); a failing step
  leaves the row's values untouched (value semantics,
  ``phaser/phase.py:101-105``).
* ``batch_step``/``dataframe_step`` receive the live **Spark DataFrame**
  (the reference hands a list / pandas.DataFrame — at 100 TB only a lazy
  DataFrame makes sense; ``df.toPandas()`` remains the explicit small-data
  escape hatch).  Row-number preservation follows reference rules
  (``phaser/records.py:63-92``): surviving ``__phaser_row_num__`` values
  keep their numbers; rows without one are "new" and get max+1 numbers.
* ``extra_outputs`` on row steps: the reference lets a row function mutate
  a shared dict (``tests/pipelines/families.py:12-16``) — impossible to
  share across executors.  We hand the function a delta-tracking mapping
  and emit each row's numeric deltas through a side column, then reduce
  with ``groupBy().sum()`` — associative, shuffle-light (map-side combine),
  semantically identical for the reference's counting patterns.
"""

from __future__ import annotations

import datetime
import inspect
import json
from collections import UserDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import (
    DROP_COL,
    ERROR_COL,
    EVENT_ERROR,
    EVENT_WARNING,
    INTERNAL_COLS,
    PHASER_ROW_NUM,
    WARNING_COL,
)
from .exceptions import (
    DataErrorException,
    DropRowException,
    PhaserError,
    WarningException,
)

ROW_STEP = "ROW_STEP"
BATCH_STEP = "BATCH_STEP"
DATAFRAME_STEP = "DATAFRAME_STEP"
CONTEXT_STEP = "CONTEXT_STEP"

_EXTRA_DELTA_COL = "__phaser_extra_deltas__"


def _decorate(fn, step_type, **attrs):
    fn.__phaser_step_type__ = step_type
    for k, v in attrs.items():
        setattr(fn, f"__phaser_{k}__", v)
    return fn


def _step_decorator(step_type, **defaults):
    def build(func=None, **kwargs):
        opts = {**defaults, **kwargs}
        unknown = set(kwargs) - set(defaults)
        if unknown:
            raise PhaserError(f"{step_type} got unknown options {sorted(unknown)}")

        def wrap(f):
            if not callable(f):
                raise PhaserError(f"{step_type} must decorate a callable")
            return _decorate(f, step_type, **opts)

        return wrap(func) if func is not None else wrap

    return build


#: ``@row_step`` — per-row dict in, dict out (phaser/steps.py:108-133).
#: ``output_schema`` (engine addition): DDL string / StructType for steps
#: that add columns; omitted ⇒ inferred from a driver-side sample.
row_step = _step_decorator(
    ROW_STEP, extra_sources=(), extra_outputs=(), output_schema=None
)

#: ``@batch_step`` — whole-dataset ``f(df, ...) -> df``
#: (phaser/steps.py:135-162); ``check_size=True`` warns on row-count change.
#: ``internal=True`` (engine builtins only): the function receives the full
#: DataFrame including lineage/quarantine columns and promises to preserve
#: them — skips the post-step realign join, so e.g. sort order survives.
batch_step = _step_decorator(
    BATCH_STEP, extra_sources=(), extra_outputs=(), check_size=False, internal=False
)

#: ``@dataframe_step`` (phaser/steps.py:164-212) — same execution as
#: batch_step here (the DataFrame *is* the dataset); ``pass_row_nums``
#: keeps signature parity.
dataframe_step = _step_decorator(
    DATAFRAME_STEP,
    extra_sources=(),
    extra_outputs=(),
    check_size=False,
    pass_row_nums=True,
)

#: ``@context_step`` — driver-side logic between steps (phaser/steps.py:215-229).
context_step = _step_decorator(CONTEXT_STEP, extra_sources=(), extra_outputs=())


def step_type_of(fn) -> str:
    t = getattr(fn, "__phaser_step_type__", None)
    if t is None:
        raise PhaserError(
            f"Step {getattr(fn, '__name__', fn)!r} is not decorated with "
            "row_step/batch_step/dataframe_step/context_step"
        )
    return t


def _wants_context(fn) -> bool:
    return "context" in inspect.signature(fn).parameters


class DeltaMapping(UserDict):
    """Dict handed to row steps as an ``extra_output`` accumulator.

    Tracks per-row numeric deltas so distributed partial updates can be
    reduced by summation (the reference's counting idiom,
    ``tests/pipelines/families.py:12-16``).  Missing keys read as 0
    (defaultdict(int) behavior in the reference tests).
    """

    def __init__(self):
        super().__init__()
        self.deltas: dict = {}

    @staticmethod
    def _norm_key(key):
        # an integral float (3.0, e.g. read from a double column) and the
        # int 3 name one counter: normalize so both round-trip through
        # JSON as "3".
        # NaN/inf cannot normalize (int() raises) and cannot survive the
        # JSON merge either — reject them with the same clear error the
        # other bad key shapes get
        if isinstance(key, float):
            try:
                as_int = int(key)
            except (ValueError, OverflowError):
                raise PhaserError(
                    f"extra_output keys must be JSON-serializable values; "
                    f"got non-finite float {key!r} — filter or bucket the "
                    "value before using it as a counter key"
                ) from None
            if key == as_int:
                return as_int
        return key

    def __missing__(self, key):
        return 0

    def __getitem__(self, key):
        return super().__getitem__(self._norm_key(key))

    def __setitem__(self, key, value):
        key = self._norm_key(key)
        if not isinstance(key, (str, int, float, bool)) and key is not None:
            # fail HERE with a clear message: a tuple/object key would
            # otherwise crash later inside json.dumps on the executor
            # (keys must survive a JSON round-trip for the distributed
            # delta merge)
            raise PhaserError(
                f"extra_output keys must be str/int/float/bool/None "
                f"(JSON-serializable), got {type(key).__name__}: {key!r} — "
                "stringify compound keys, e.g. f'{a}|{b}'"
            )
        old = self.data.get(key, 0)
        if not isinstance(value, (int, float)):
            raise PhaserError(
                "row_step extra_outputs support numeric accumulation only "
                "(distributed merge is by sum); use a batch_step for "
                "arbitrary side outputs"
            )
        self.deltas[key] = self.deltas.get(key, 0) + (value - old)
        super().__setitem__(key, value)

    def drain(self) -> dict:
        d, self.deltas = self.deltas, {}
        return d


# --------------------------------------------------------------------------
# Arrow row shell: batches to plain Python row dicts and back
# --------------------------------------------------------------------------

def _conv(c, v):
    return v if c is None or v is None else c(v)


def _converter(t: T.DataType, ts):
    """Per-value converter for Spark type ``t`` (a row is a struct), or a
    falsy value for a type holding no map and no timestamp.  ``ts``
    converts a timestamp; a map becomes a ``dict`` (``to_pylist`` gives a
    list of pairs)."""
    if isinstance(t, T.TimestampType):
        return ts
    if isinstance(t, T.ArrayType):
        el = _converter(t.elementType, ts)
        return el and (lambda v: [_conv(el, x) for x in v])
    if isinstance(t, T.MapType):
        kc, vc = _converter(t.keyType, ts), _converter(t.valueType, ts)
        return lambda v: {
            _conv(kc, k): _conv(vc, x)
            for k, x in (v.items() if isinstance(v, dict) else v)
        }
    if isinstance(t, T.StructType):
        fields = {f.name: c for f in t.fields if (c := _converter(f.dataType, ts))}
        return fields and (
            lambda v: {**v, **{n: _conv(c, v.get(n)) for n, c in fields.items()}}
        )
    return None


def batch_rows(schema: T.StructType, session_tz: str):
    """The row shell's way in: a function turning an Arrow batch (or
    table) of ``schema`` into row dicts of plain Python values.  Arrow
    hands timestamps over zone-aware (in the session zone to a worker, in
    UTC to a driver collect); the row sees them as naive wall clock in
    ``session_tz``.  A schema with no map or timestamp converts nothing."""
    import pyarrow as pa

    conv = _converter(schema, lambda v: v.astimezone(zone).replace(tzinfo=None))
    zone = pa.lib.string_to_tzinfo(session_tz) if conv else None

    def rows(batch) -> list[dict]:
        out = batch.to_pylist()
        return [conv(r) for r in out] if conv else out

    return rows


def collect_rows(df: DataFrame, n: int) -> list[dict]:
    """The first ``n`` rows of ``df`` on the driver, with the values the
    row shell hands the workers' functions (:func:`batch_rows`): the jobs
    of ``limit(n).collect()``, plus a stage of one task per partition."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    return batch_rows(df.schema, tz)(df.limit(n).toArrow())


def _arrow_column(values: list, typ):
    """An Arrow array of ``typ``, with the coercions the earlier pandas
    shell made: integers infer then cast safely (``"5"`` and ``3.0`` land
    as 5 and 3, NaN as null; ``3.7`` raises, which a typed conversion
    would truncate); other types that refuse a value fall back to that
    cast, except strings, which take only strings."""
    import pyarrow as pa

    if pa.types.is_integer(typ):
        return pa.array(values, from_pandas=True).cast(typ)
    try:
        return pa.array(values, type=typ)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        if pa.types.is_string(typ):
            raise
        return pa.array(values).cast(typ)


def rows_batch(schema: T.StructType, session_tz: str):
    """The row shell's way out: a function turning row dicts (a key per
    ``schema`` column) into an Arrow batch of ``schema``.  A naive
    timestamp is wall clock in ``session_tz``; an ambiguous one resolves
    to standard time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def to_utc(v):
        # pyarrow stores an aware datetime's wall clock as if it were UTC
        if v.tzinfo is None:
            v = zone.localize(v, is_dst=False)
        return v.astimezone(datetime.timezone.utc)

    conv = _converter(schema, to_utc)
    # the pytz zone pyarrow itself reads the session's batches in
    zone = pa.lib.string_to_tzinfo(session_tz) if conv else None
    arrow = to_arrow_schema(schema)

    def batch(rows: list[dict]):
        rows = [conv(r) for r in rows] if conv else rows
        cols = [_arrow_column([r[f.name] for r in rows], f.type) for f in arrow]
        return pa.RecordBatch.from_arrays(cols, schema=arrow)

    return batch


# --------------------------------------------------------------------------
# row_step executor
# --------------------------------------------------------------------------

def _merge_schemas(in_schema: T.StructType, declared) -> T.StructType:
    if declared is None:
        return in_schema
    if isinstance(declared, str):
        declared = T.StructType.fromDDL(declared)
    out = list(in_schema.fields)
    have = {f.name for f in out}
    for f in declared.fields:
        if f.name not in have:
            out.append(f)
    return T.StructType(out)


#: step functions already warned about (one warning per step per process)
_INFER_WARNED: set = set()


def infer_row_step_schema(df: DataFrame, fn, loop) -> T.StructType:
    """Sample-based output-schema inference for steps that add columns:
    ``loop`` (:func:`_row_loop`) runs ``fn`` on the first 10 rows it will
    be called on, read through the row shell (:func:`collect_rows`).

    One tiny driver job — documented cost of the dynamic dict API;
    declare ``output_schema=`` to skip it.  Bounded, but a silent driver
    action and a sampling hazard (a column the first 10 rows never
    populate is missed, and a type the sample under-represents is guessed
    wrong), so it warns once per step.
    """
    key = (getattr(fn, "__module__", ""), getattr(fn, "__qualname__", repr(fn)))
    if key not in _INFER_WARNED:
        _INFER_WARNED.add(key)
        import warnings

        warnings.warn(
            f"row_step {getattr(fn, '__name__', fn)!r} declares no "
            "output_schema: inferring added columns from the first 10 rows "
            "it will be called on, sampled on the driver. Columns/types the "
            "sample misses are dropped or mistyped — declare "
            "output_schema=\"col type, ...\" for deterministic schemas (and "
            "to skip the sampling job).",
            stacklevel=3,
        )
    live = df.filter(F.col(ERROR_COL).isNull() & ~F.col(DROP_COL))
    names = [c for c in df.columns if c not in INTERNAL_COLS]
    new_fields: dict[str, T.DataType] = {}
    for out in loop(collect_rows(live, 10), names):
        for k, v in out.items():
            if k not in df.columns and k not in new_fields and v is not None:
                new_fields[k] = _python_value_type(v)
    fields = list(df.schema.fields)
    for k, t in new_fields.items():
        fields.append(T.StructField(k, t))
    return T.StructType(fields)


#: Python type -> the Spark type the row shell reads it back as (a naive
#: ``datetime`` is a session-zone timestamp); ``bool`` before ``int``,
#: ``datetime`` before ``date``, as each is the other's subclass
_PY_TYPES = (
    (bool, T.BooleanType), (int, T.LongType), (float, T.DoubleType),
    (datetime.datetime, T.TimestampType), (datetime.date, T.DateType),
    ((bytes, bytearray), T.BinaryType),
)


def _python_value_type(v) -> T.DataType:
    for py, spark in _PY_TYPES:
        if isinstance(v, py):
            return spark()
    if isinstance(v, (list, tuple)):
        inner = _python_value_type(v[0]) if v else T.StringType()
        return T.ArrayType(inner)
    if isinstance(v, dict):
        # keyed and valued by its first item
        k, x = next(iter(v.items()), ("", ""))
        return T.MapType(_python_value_type(k), _python_value_type(x))
    return T.StringType()


def _row_loop(fn, step_name: str, sources: dict, extra_outputs: tuple,
              context_vars: dict):
    """The one loop running a row function, set up per worker partition
    and for the schema probe.  ``loop(rows, names)`` calls ``fn`` on the
    ``names`` columns of each row dict with no error and no drop flag,
    updates the row in place and returns what ``fn`` returned.  An
    exception maps to a marker: ``DropRowException`` → drop flag,
    ``WarningException`` → warning list, other ``Exception`` → error
    struct; a ``PhaserError`` propagates (reference "never swallowed",
    ``phaser/exceptions.py:29-35``)."""
    accs = {name: DeltaMapping() for name in extra_outputs}
    kwargs = {**sources, **accs}
    if _wants_context(fn):
        kwargs["context"] = _ExecutorContext(context_vars)

    def loop(rows: list[dict], names: list[str]) -> list[dict]:
        returned = []
        for rec in rows:
            err, drop = rec.get(ERROR_COL), bool(rec.get(DROP_COL))
            warnings = rec.get(WARNING_COL) or []
            base = {k: rec.get(k) for k in names}
            deltas = None
            if err is None and not drop:
                try:
                    newrow = fn(dict(base), **kwargs)
                    if not isinstance(newrow, dict):
                        raise PhaserError(
                            f"row_step {step_name} must return a Mapping, "
                            f"got {type(newrow)}"
                        )
                    if (
                        PHASER_ROW_NUM in newrow
                        and newrow[PHASER_ROW_NUM] != base.get(PHASER_ROW_NUM)
                    ):
                        raise PhaserError(
                            f"row_step {step_name} changed {PHASER_ROW_NUM} "
                            "(reference phaser/steps.py:120-127 forbids this)"
                        )
                    base.update((k, newrow[k]) for k in names if k in newrow)
                    returned.append(newrow)
                except DropRowException as e:
                    drop = True
                    warnings.append(
                        _event("DROPPED_ROW", step_name, str(e) or "row dropped")
                    )
                except WarningException as e:
                    warnings.append(_event(EVENT_WARNING, step_name, str(e)))
                except PhaserError:
                    raise
                except Exception as e:  # DataException & arbitrary errors
                    err = _event(EVENT_ERROR, step_name, f"{type(e).__name__}: {e}")
                # a dropped or errored row's partial updates are discarded
                drained = {n: acc.drain() for n, acc in accs.items()}
                if err is None and not drop:
                    deltas = drained
            # the row's other columns (the drop attribution, the swept
            # flag) pass through as they came in
            rec.update(base)
            rec[ERROR_COL], rec[WARNING_COL], rec[DROP_COL] = err, warnings, drop
            if accs:
                rec[_EXTRA_DELTA_COL] = json.dumps(deltas) if deltas else None
        return returned

    return loop


def run_row_step(
    df: DataFrame,
    fn,
    step_name: str,
    phase_name: str,
    extra_source_values: dict | None = None,
    extra_output_names: tuple = (),
    context_vars: dict | None = None,
    output_schema=None,
    strict_schemas: bool = False,
) -> DataFrame:
    """Execute a row step distributed via ``mapInArrow``: each batch
    becomes row dicts of plain Python values, goes through
    :func:`_row_loop` and back through the output schema
    (:func:`batch_rows` / :func:`rows_batch`).

    Quarantined rows (non-null ``__phaser_error__``) pass through unchanged
    (reference ``phaser/phase.py:90-91``); a ``PhaserError`` fails the job,
    or the build when the schema probe's sample raises it.
    """
    # the sources and context variables as they are when the plan is built
    loop_args = (fn, step_name, dict(extra_source_values or {}),
                 tuple(extra_output_names), dict(context_vars or {}))
    declared = getattr(fn, "__phaser_output_schema__", None) or output_schema

    if declared is None and strict_schemas:
        # at 100 TB a column the 10-row sample never sees is dropped with
        # no error anywhere — strict pipelines refuse the gamble up front
        raise PhaserError(
            f"row_step {step_name!r} declares no output_schema and this "
            "pipeline runs with strict_schemas=True: sample-based schema "
            "inference can silently drop a column the sample misses — "
            "declare @row_step(output_schema=\"col type, ...\")"
        )
    if declared is not None:
        out_schema = _merge_schemas(df.schema, declared)
    else:
        out_schema = infer_row_step_schema(df, fn, _row_loop(*loop_args))

    if extra_output_names:
        out_schema = T.StructType(
            list(out_schema.fields) + [T.StructField(_EXTRA_DELTA_COL, T.StringType())]
        )

    out_names = [f.name for f in out_schema.fields]
    visible_names = [c for c in out_names if c not in INTERNAL_COLS and c != _EXTRA_DELTA_COL]
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    to_rows = batch_rows(df.schema, tz)
    to_batch = rows_batch(out_schema, tz)

    def gen(batches):
        loop = _row_loop(*loop_args)
        for batch in batches:
            rows = to_rows(batch)
            loop(rows, visible_names)
            yield to_batch(rows)

    return df.mapInArrow(gen, schema=out_schema)


def _event(kind: str, step: str, message: str) -> dict:
    return {"type": kind, "column": None, "step": step, "message": message,
            "policy": None}


class _ExecutorContext:
    """Read-only context visible inside executor-side row functions."""

    def __init__(self, variables: dict):
        self.variables = dict(variables)

    def get(self, name, default=None):
        return self.variables.get(name, default)

    def add_variable(self, *_a, **_k):
        raise PhaserError(
            "context.add_variable is driver-only; use a context_step "
            "(reference phaser/steps.py:215-229)"
        )

    def add_warning(self, message, **_k):
        raise WarningException(message)

    def add_error(self, message, **_k):
        raise DataErrorException(message)


def extract_extra_output_deltas(df: DataFrame, output_names: tuple) -> dict[str, DataFrame]:
    """Reduce the per-row delta column into one DataFrame per extra output:
    ``(key string, value double)`` via explode + groupBy().sum() —
    associative, map-side-combined."""
    out: dict[str, DataFrame] = {}
    if _EXTRA_DELTA_COL not in df.columns:
        return out
    parsed = df.select(
        F.from_json(
            F.col(_EXTRA_DELTA_COL),
            T.MapType(T.StringType(), T.MapType(T.StringType(), T.DoubleType())),
        ).alias("d")
    ).filter(F.col("d").isNotNull())
    for name in output_names:
        exploded = parsed.select(F.explode(F.element_at(F.col("d"), name)).alias("key", "delta"))
        out[name] = (
            exploded.groupBy("key").agg(F.sum("delta").alias("value"))
        )
    return out
