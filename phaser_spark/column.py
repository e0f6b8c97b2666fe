"""Declarative column contracts compiled to Spark expressions.

Parity target: reference ``phaser/column.py`` (SURVEY.md §1.2–1.3).  Each
``Column`` declares rename/cast/validate/default/fix behavior; a Phase
applies columns in declared order, and within a row the first failing
column wins (``phaser/phase.py:241-253``).

Engine design: instead of the reference's row-at-a-time
``cast → fix → check`` Python loop (``phaser/column.py:114-128``), each
Column compiles to a pair of Catalyst expressions —

* ``value_expr``  — the cast+defaulted+fixed value, and
* ``error_expr``  — a ``struct(type, column, step, message, policy)``
  that is null when the row passes this column's contract —

so the whole column stage is one narrow projection: vectorized,
whole-stage-codegen'd, zero Python in the hot path.  Only a user-supplied
``fix_value_fn`` *callable* drops to an Arrow-batched Python UDF, which
hands it plain Python values.

Cast-semantics parity worth calling out (SURVEY.md §1.2):

* ``IntColumn`` goes through ``Decimal`` in the reference so ``"5.0"`` → 5
  (``phaser/column.py:280-283``); a plain Spark ``cast("long")`` on "5.0"
  yields null, so we cast via ``decimal(38,18)`` then truncate.
* ``BooleanColumn`` accepts t/true/1/yes/y and f/false/0/no/n,
  case-insensitively (``phaser/column.py:187-222``).
* Literal strings "NULL"/"None" count as null (``phaser/io.py:115-162``);
  empty/whitespace strings are "blank", a distinct state.
* The reference's ``fix_value_fn`` string path falls back to ``eval`` —
  an injection hazard (``phaser/column.py:495-502``); we implement the
  documented whitelist + callables only (SURVEY.md §4.3).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column as SparkCol
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import EVENT_ERROR, normalize_policy
from .exceptions import PhaserError
from .io import NULL_LITERALS

# --------------------------------------------------------------------------
# Name canonicalization (phaser/column.py:464-480)
# --------------------------------------------------------------------------

def make_strict_name(name: str) -> str:
    """lower; underscores/tabs/newlines → space; collapse runs of spaces."""
    s = str(name).lower()
    for ch in ("_", "\t", "\n", "\r"):
        s = s.replace(ch, " ")
    while "  " in s:
        s = s.replace("  ", " ")
    return s.strip()


# Whitelisted fix_value_fn names → native expressions
# (reference dispatches string method names, phaser/column.py:483-507).
_FIX_FNS: dict[str, Callable[[SparkCol], SparkCol]] = {
    "strip": F.trim,
    "lstrip": F.ltrim,
    "rstrip": F.rtrim,
    "lower": F.lower,
    "upper": F.upper,
    "title": F.initcap,
    "abs": F.abs,
    "round": F.round,
    "len": F.length,
}


def _apply_fix(expr: SparkCol, fix, colname: str, spark_type=None) -> SparkCol:
    if fix is None:
        return expr
    ftype = spark_type or T.StringType()
    fixes = fix if isinstance(fix, (list, tuple)) else [fix]
    for f in fixes:
        if callable(f):
            # Arbitrary Python: an Arrow-batched Python UDF handing the
            # callable the COLUMN'S TYPED value (reference cast-then-fix
            # semantics) as a plain Python value: an IntColumn fix gets 5,
            # not '5' (v*2 would read '55') nor the 5.0 a pandas UDF hands
            # over beside a null.  A null never reaches it.
            _udf = F.udf(
                lambda v, _f=f: None if v is None else _f(v), ftype, useArrow=True
            )
            expr = _udf(expr.cast(ftype))
        elif isinstance(f, str):
            if f == "capitalize":
                expr = F.concat(
                    F.upper(F.substring(expr, 1, 1)),
                    F.lower(F.substring(expr, 2, 1 << 30)),
                )
            elif f in _FIX_FNS:
                expr = _FIX_FNS[f](expr)
            else:
                raise PhaserError(
                    f"fix_value_fn '{f}' on column '{colname}' is not in the "
                    f"whitelist {sorted(_FIX_FNS)}; pass a callable instead"
                )
        else:
            raise PhaserError(f"fix_value_fn must be a name or callable, got {f!r}")
    return expr


def _err_struct(column: str, message: SparkCol, policy: str | None) -> SparkCol:
    return F.struct(
        F.lit(EVENT_ERROR).alias("type"),
        F.lit(column).alias("column"),
        F.lit("__cast_and_check__").alias("step"),
        message.alias("message"),
        F.lit(policy).alias("policy"),
    )


class Column:
    """Base (string/any) column — no cast (phaser/column.py:21-184).

    Parameters mirror the reference: ``required`` (header must exist),
    ``null``/``blank`` (False ⇒ error on null / empty-string), ``default``
    (applied when value is null; incompatible with ``null=False``),
    ``allowed_values`` (membership after cast), ``fix_value_fn``
    (whitelisted name(s) or callable(s)), ``rename`` (alternate source
    headers), ``save`` (False ⇒ dropped at end of phase), ``on_error``
    (per-column policy override, phaser/column.py:50-55).
    """

    spark_type: T.DataType = T.StringType()

    def __init__(
        self,
        name: str,
        required: bool = True,
        null: bool = True,
        blank: bool = True,
        default=None,
        allowed_values=None,
        fix_value_fn=None,
        rename=None,
        save: bool = True,
        on_error: str | None = None,
    ):
        self.name = str(name).strip()
        self.required = required
        self.null = null
        self.blank = blank
        self.default = default
        self.allowed_values = list(allowed_values) if allowed_values else None
        self.fix_value_fn = fix_value_fn
        self.rename = [rename] if isinstance(rename, str) else list(rename or [])
        self.save = save
        self.on_error = normalize_policy(on_error)
        if default is not None and null is False:
            raise PhaserError(
                f"Column '{name}': default= is incompatible with null=False "
                "(the default would mask the null error)"
            )

    # -- compilation hooks (subclasses override cast_expr / extra_check) ----

    def _nullified(self, raw: SparkCol) -> SparkCol:
        """Null normalization: real null or a null-literal string → null."""
        return F.when(raw.cast("string").isin(*NULL_LITERALS), F.lit(None)).otherwise(raw)

    def cast_expr(self, raw: SparkCol):
        """Return (value_expr, cast_error_message_expr|None)."""
        return self._nullified(raw), None

    def compile(self, raw: SparkCol):
        """Compile to (value_expr, error_struct_expr) for this column."""
        value, cast_err = self.cast_expr(raw)
        if self.default is not None:
            value = F.coalesce(value, F.lit(self.default).cast(self.spark_type))
        value = _apply_fix(value, self.fix_value_fn, self.name, self.spark_type)

        checks: list[tuple[SparkCol, SparkCol]] = []  # (is_bad, message), in
        # reference evaluation order: null-check → cast → fix → check
        # (phaser/column.py:114-128)
        if not self.null:
            # Null-check runs on the *raw* value, before cast
            # (phaser/column.py:114-128): '' is blank, not null.
            checks.append(
                (
                    # trim before matching: the cast path trims, so a
                    # padded ' NULL ' becomes null — the check must see
                    # the same value or the null slips through
                    raw.isNull()
                    | F.trim(raw.cast("string")).isin(*NULL_LITERALS),
                    F.lit(f"null value in non-null column '{self.name}'"),
                )
            )
        if cast_err is not None:
            checks.append(cast_err)
        if not self.blank:
            checks.append(
                (
                    F.trim(raw.cast("string")) == "",
                    F.lit(f"blank value in non-blank column '{self.name}'"),
                )
            )
        checks.extend(self.extra_checks(raw, value))
        if self.allowed_values is not None:
            checks.append(
                (
                    value.isNotNull() & ~value.isin(*self.allowed_values),
                    F.concat(
                        F.lit(f"value '"),
                        value.cast("string"),
                        F.lit(f"' not in allowed_values for column '{self.name}'"),
                    ),
                )
            )

        err = F.lit(None).cast(
            "struct<type:string,column:string,step:string,message:string,policy:string>"
        )
        for is_bad, message in reversed(checks):
            err = F.when(is_bad, _err_struct(self.name, message, self.on_error)).otherwise(err)
        return value, err

    def extra_checks(self, raw: SparkCol, value: SparkCol):
        return []


class _RangeMixin:
    """min_value/max_value checks after cast (phaser/column.py:273-278,352-360)."""

    min_value = None
    max_value = None

    def range_checks(self, value: SparkCol):
        checks = []
        if self.min_value is not None:
            checks.append(
                (
                    value < F.lit(self.min_value),
                    F.concat(
                        F.lit(f"value "),
                        value.cast("string"),
                        F.lit(f" below min_value {self.min_value} for '{self.name}'"),
                    ),
                )
            )
        if self.max_value is not None:
            checks.append(
                (
                    value > F.lit(self.max_value),
                    F.concat(
                        F.lit(f"value "),
                        value.cast("string"),
                        F.lit(f" above max_value {self.max_value} for '{self.name}'"),
                    ),
                )
            )
        return checks


class _CastColumn(Column, _RangeMixin):
    """Shared machinery for typed columns: failed cast on a non-null,
    non-blank raw value is an error (phaser/column.py:114-128)."""

    def __init__(self, name, min_value=None, max_value=None, **kwargs):
        super().__init__(name, **kwargs)
        self.min_value = min_value
        self.max_value = max_value

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        raise NotImplementedError

    def cast_expr(self, raw: SparkCol):
        s = F.trim(raw.cast("string"))
        cleaned = F.when(
            s.isNull() | (s == "") | s.isin(*NULL_LITERALS), F.lit(None)
        ).otherwise(s)
        value = self._cast_value(cleaned)
        cast_err = (
            cleaned.isNotNull() & value.isNull(),
            F.concat(
                F.lit(f"could not parse '"),
                cleaned,
                F.lit(f"' as {type(self).__name__} in column '{self.name}'"),
            ),
        )
        return value, cast_err

    def extra_checks(self, raw: SparkCol, value: SparkCol):
        return self.range_checks(value)


class IntColumn(_CastColumn):
    """``int(Decimal(v))`` semantics: "5.0" → 5, truncation toward zero
    (phaser/column.py:280-283; tests/test_columns.py:408-436).

    Documented divergence: the reference returns Python bigints; this
    engine's ``LongType`` is 64-bit, so values outside ±2^63 ERROR under
    the phase policy instead of silently wrapping (found by the
    property-based parity suite, tests/test_property_casts.py)."""

    spark_type = T.LongType()

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        return cleaned.try_cast(T.DecimalType(38, 18)).try_cast(T.LongType())


class FloatColumn(_CastColumn):
    """``float(Decimal(v))`` (phaser/column.py:291-294)."""

    spark_type = T.DoubleType()

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        return cleaned.try_cast(T.DoubleType())


class BooleanColumn(_CastColumn):
    """t/true/1/yes/y · f/false/0/no/n, case-insensitive
    (phaser/column.py:187-222; tests/test_columns.py:360-364)."""

    spark_type = T.BooleanType()
    TRUE_VALUES = ("t", "true", "1", "yes", "y")
    FALSE_VALUES = ("f", "false", "0", "no", "n")

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        low = F.lower(cleaned)
        return (
            F.when(low.isin(*self.TRUE_VALUES), F.lit(True))
            .when(low.isin(*self.FALSE_VALUES), F.lit(False))
            .otherwise(F.lit(None).cast(T.BooleanType()))
        )


# strptime directive → java.time pattern (for explicit *_format args)
_STRPTIME_MAP = {
    # single-letter java.time patterns accept 1-2 digits, matching
    # strptime's leniency ("%m" parses both "3" and "03")
    "%Y": "yyyy", "%y": "yy", "%m": "M", "%d": "d", "%H": "H", "%I": "h",
    "%M": "m", "%S": "s", "%f": "SSSSSS", "%p": "a", "%b": "MMM", "%B": "MMMM",
    "%a": "EEE", "%A": "EEEE", "%j": "D", "%z": "xx",
}


def strptime_to_spark(fmt: str) -> str:
    """Token-by-token translation: directives map via _STRPTIME_MAP,
    ``%%`` becomes a literal percent, any OTHER literal text is quoted
    (java.time reserves every ASCII letter — an unquoted 'T' in an ISO
    format throws at execution time), and an unmapped directive raises
    instead of leaking '%x' into the pattern.  The old ordered
    str.replace corrupted escapes ('%%m' ended up as the minute
    pattern) and left literals unquoted."""
    out: list[str] = []
    literal: list[str] = []

    def flush():
        if literal:
            text = "".join(literal).replace("'", "''")
            out.append(f"'{text}'")
            literal.clear()

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise PhaserError(f"trailing '%' in datetime format {fmt!r}")
            tok = fmt[i : i + 2]
            if tok == "%%":
                literal.append("%")
            elif tok in _STRPTIME_MAP:
                flush()
                out.append(_STRPTIME_MAP[tok])
            else:
                raise PhaserError(
                    f"unsupported strptime directive {tok!r} in {fmt!r} "
                    f"(supported: {sorted(_STRPTIME_MAP)})"
                )
            i += 2
        else:
            literal.append(ch)
            i += 1
    flush()
    return "".join(out)


class DateTimeColumn(_CastColumn):
    """ISO-8601 by default, or explicit ``datetime_format`` (strptime
    syntax, converted); naive values get ``default_tz``
    (phaser/column.py:297-379)."""

    spark_type = T.TimestampType()

    def __init__(self, name, datetime_format: str | None = None, default_tz: str | None = None, **kw):
        super().__init__(name, **kw)
        self.datetime_format = datetime_format
        self.default_tz = default_tz

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        if self.datetime_format:
            ts = F.try_to_timestamp(cleaned, F.lit(strptime_to_spark(self.datetime_format)))
        else:
            ts = F.coalesce(
                F.try_to_timestamp(cleaned),
                F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
                F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd")),
            )
        if self.default_tz:
            # only NAIVE values get the default zone: an offset-bearing
            # input already names its instant, and re-interpreting its
            # wall-clock in default_tz would double-shift it
            if self.datetime_format:
                # the FORMAT decides (reference phaser/column.py:377 keys
                # off the parsed result's tzname): a value-suffix sniff
                # here would false-positive on naive dates whose rendering
                # ends in "-<year>" (e.g. '01-01-2024' with '%d-%m-%Y')
                if "%z" in self.datetime_format or "%Z" in self.datetime_format:
                    return ts
                return F.to_utc_timestamp(ts, self.default_tz)
            # ISO default path: '-DDDD$' cannot occur in a naive ISO value,
            # so the suffix sniff is exact
            has_offset = cleaned.rlike(r"([+-]\d{2}:?\d{2}|[+-]\d{4}|[Zz])$")
            ts = F.when(has_offset, ts).otherwise(
                F.to_utc_timestamp(ts, self.default_tz)
            )
        return ts


class DateColumn(_CastColumn):
    """ISO first, then unambiguous ``%Y/%m/%d`` and ``%Y%m%d``
    (phaser/column.py:382-459); explicit ``date_format`` overrides.

    Documented divergence (found by the property suite): for pre-1000
    years the reference's greedy ``strptime`` re-interprets non-padded
    compact dates ("9990101" → 9990-10-01); this engine's fixed-width
    pattern rejects them as errors instead of silently mis-parsing.

    (The reference's ``continue``-instead-of-``break`` quirk at
    phaser/column.py:449-454 is benign and not replicated — SURVEY §4.3.)
    """

    spark_type = T.DateType()

    def __init__(self, name, date_format: str | None = None, **kw):
        super().__init__(name, **kw)
        self.date_format = date_format

    def _cast_value(self, cleaned: SparkCol) -> SparkCol:
        if self.date_format:
            return F.try_to_timestamp(
                cleaned, F.lit(strptime_to_spark(self.date_format))
            ).cast(T.DateType())
        return F.coalesce(
            F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd")),
            F.try_to_timestamp(cleaned, F.lit("yyyy/MM/dd")),
            F.try_to_timestamp(cleaned, F.lit("yyyyMMdd")),
            F.try_to_timestamp(cleaned),
        ).cast(T.DateType())
