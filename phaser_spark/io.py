"""Sources and sinks with reference-parity semantics.

Parity targets (SURVEY.md §2.1):

* ``read_csv`` — reference ``phaser/io.py:34-60``: skips ``#``-comment and
  all-empty rows, errors on duplicate headers, errors on rows with missing
  fields, warns-and-drops empty extra fields, values stay *strings* until a
  Column casts them (``tests/test_csv.py:109-113``).
* ``read_json`` — reference ``phaser/io.py:14-26``: file must be a
  top-level list of record dicts.
* ``save_csv`` — reference ``phaser/io.py:164-190``: None/NaN → empty,
  list values stringified Python-style (``tests/test_csv.py:151-157``).
* ``save_json`` — reference ``phaser/io.py:29-31``: a single JSON array.
* ``ExtraRecords`` / ``ExtraMapping`` — reference ``phaser/io.py:193-241``.

Scale notes: reads go through Spark's native distributed CSV/JSON readers
(splittable, pushdown-capable); ragged-row detection rides the reader's
``_corrupt_record`` channel instead of a second parse; row numbering uses
the zero-shuffle lineage utility.  Single-file sinks exist for CLI parity
(they stream part-files together driver-side without materializing rows in
memory); production output should use ``save_parquet``.
"""

from __future__ import annotations

import csv
import glob
import io as _pyio
import json
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import (
    CSV_FORMAT,
    JSON_RECORD_FORMAT,
    PHASER_ROW_NUM,
    ROW_STEP_SOURCE_MAX_ROWS,
)
from .exceptions import DataException, PhaserError
from .lineage import with_row_numbers

# Sentinel that never appears in real data: lets quoted "" survive as an
# empty string (phaser keeps blanks distinct from nulls — phaser/io.py:115-162).
_NULL_SENTINEL = "\x01"
_CORRUPT = "_corrupt_record"

# Corrupt-sliver materialization cap: a systematically malformed file
# (wrong delimiter / not NDJSON at all) must not checkpoint its ENTIRE
# input to executor storage just to raise DataException — under the cap
# counts stay exact, at the cap errors report a lower bound.
_SLIVER_CAP = 100_000

#: Literal strings treated as null by the reference (phaser/io.py:115-162).
NULL_LITERALS = ("NULL", "None", "null", "none")


def _sniff_headers(
    source: str, delimiter: str, encoding: str, spark: SparkSession | None = None
) -> list[str]:
    """Read the header row (first non-comment, non-empty line).

    Local paths read driver-side; anything a local ``open()`` can't
    reach (hdfs://, s3a://, directories of part files) falls back to
    ``sparkContext.textFile(...).take(...)`` — the same distributed
    reader the scan itself uses, so every filesystem the scan supports
    is sniffable too.  Duplicate headers are an error (reference
    ``phaser/io.py:43-47``).
    """

    sniff_risky = False  # remote fallback asked to decode non-UTF-8

    def _open_local():
        # compressed local files: stdlib-decodable codecs sniff driver-
        # side like plain text (Spark's scan decodes them via Hadoop
        # codecs on the executors); .zst has no stdlib codec — its
        # header sniff goes through the distributed fallback below
        low = str(source).lower()
        if low.endswith(".gz"):
            import gzip

            return gzip.open(source, "rt", encoding=encoding, newline="")
        if low.endswith(".bz2"):
            import bz2

            return bz2.open(source, "rt", encoding=encoding, newline="")
        return open(source, encoding=encoding, newline="")

    def _lines():
        nonlocal sniff_risky
        try:
            f = _open_local()
        except OSError:
            if spark is None:
                raise
            # distributed fallback: Hadoop's line reader decodes via
            # UTF-8 `Text` unconditionally (even use_unicode=False hands
            # back already-transcoded bytes).  An all-ASCII header sniffs
            # identically under any ASCII-compatible encoding, so attempt
            # the sniff and refuse AFTER only if the header found actually
            # carries non-ASCII bytes (where transcoding would corrupt it)
            import codecs

            if codecs.lookup(encoding).name not in ("utf-8", "ascii"):
                sniff_risky = True
            raw = spark.sparkContext.textFile(source)
            # escalate rather than scan unboundedly: a remote header sniff
            # past 10k leading comment/blank lines is a malformed file
            for n in (200, 10_000):
                chunk = raw.take(n)
                if any(ln.strip() and not ln.startswith("#") for ln in chunk) or len(chunk) < n:
                    return iter(chunk)
            raise DataException(
                f"{source}: no header row in the first 10000 lines "
                "(remote sniff limit; strip leading comments or use a local path)"
            )
        # local path: lazy full-file iteration — a file with thousands of
        # leading comment lines still finds its header
        return f

    src = _lines()
    try:
        for line in src:
            if line.startswith("#") or not line.strip():
                continue
            headers = next(csv.reader(_pyio.StringIO(line), delimiter=delimiter))
            break
        else:
            raise DataException(f"{source}: no header row found")
    finally:
        # the local path hands back an open file object; close it even on
        # the duplicate-header / no-header error paths (a long-lived
        # driver reading many CSVs would otherwise leak one fd per read)
        close = getattr(src, "close", None)
        if close is not None:
            close()
    if sniff_risky and any(ord(ch) > 127 for ch in line):
        raise DataException(
            f"{source}: header contains non-ASCII under {encoding!r} and a "
            "remote sniff decodes UTF-8 only — copy the file locally or "
            "re-encode it"
        )
    stripped = [h.strip().strip("'\"").strip() for h in headers]
    dupes = {h for h in stripped if stripped.count(h) > 1}
    if dupes:
        raise DataException(f"Duplicate headers in {source}: {sorted(dupes)}")
    return headers


def read_csv(
    spark: SparkSession,
    source: str,
    delimiter: str = ",",
    encoding: str = "utf-8",
    row_numbers: bool = True,
    on_warning=None,
) -> DataFrame:
    """Distributed CSV scan with reference semantics (phaser/io.py:34-60).

    Returned values are all strings (cast later by Columns).  Rows whose
    fields are all empty are dropped before numbering, matching the
    reference's skip-then-number order.
    """
    headers = _sniff_headers(source, delimiter, encoding, spark=spark)
    schema = T.StructType(
        [T.StructField(h, T.StringType()) for h in headers]
        + [T.StructField(_CORRUPT, T.StringType())]
    )
    df = (
        spark.read.schema(schema)
        .options(
            header=True,
            comment="#",
            sep=delimiter,
            encoding=encoding,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=_CORRUPT,
            nullValue=_NULL_SENTINEL,
        )
        .csv(source)
    )

    # Ragged rows: the reader stashes the raw line. Missing fields are an
    # error (reference errors via DictReader restval check); extra fields
    # are warned about and dropped (phaser/phase.py:289-295). One tiny
    # sample job classifies them; the data itself never leaves executors.
    # Keep every column in the probe: CSV column pruning re-parses only the
    # selected fields, which would mask short rows (and querying the corrupt
    # column alone is disallowed).
    # Exact, distributed classification over the corrupt sliver only —
    # a fixed-size sample would let a short row beyond the sample slip
    # through silently (missing fields are an ERROR, not a warning).
    # Python parsing (csv.reader — quote-aware, a delimiter split is
    # not) runs Arrow-batched over ONLY the corrupt rows; clean scans
    # never touch it (the .first() probe short-circuits them).
    # The sliver is materialized once with ALL columns referenced
    # (localCheckpoint): two landmines make querying it off the raw
    # scan unsafe — Spark rejects plans whose pruned column set is only
    # the corrupt column, and against a PRUNED schema a ragged row
    # parses cleanly so the corrupt column comes back NULL and the
    # classification sees nothing.  Corrupt rows are a sliver of any
    # sane file (and executor-side, never the driver).
    # .first() probe: clean files early-exit the scan at the first task
    # that returns rows (no full pass, no checkpoint); the checkpoint is
    # also CAPPED — a systematically malformed file (wrong delimiter ⇒
    # every row corrupt) must not materialize its entire input to executor
    # storage just to raise DataException.  Under the cap the missing-field
    # count stays exact; at the cap the error reports a lower bound.
    corrupt_rows = df.filter(F.col(_CORRUPT).isNotNull())
    if corrupt_rows.first() is not None:
        # lazy: the count() materializes the capped sliver in one job
        # (eager paid a materialization job AND the count job)
        sliver = corrupt_rows.limit(_SLIVER_CAP).localCheckpoint(eager=False)
        capped = sliver.count() >= _SLIVER_CAP
        n_fields = len(headers)
        delim = delimiter

        @F.pandas_udf("int")
        def _tok_count(raw):
            import pandas as pd

            def count(line):
                if line is None:
                    return n_fields
                try:
                    return len(
                        next(csv.reader(_pyio.StringIO(line), delimiter=delim))
                    )
                except StopIteration:
                    return n_fields

            return pd.Series([count(x) for x in raw])

        bad = sliver.select(
            F.col(_CORRUPT).alias("raw"),
            _tok_count(F.col(_CORRUPT)).alias("n"),
        )
        stats = bad.agg(
            F.count(F.when(F.col("n") < n_fields, 1)).alias("n_missing"),
            F.count(F.when(F.col("n") > n_fields, 1)).alias("n_extra"),
        ).first()
        at_least = "at least " if capped else ""
        if stats["n_missing"]:
            examples = [
                r["raw"]
                for r in bad.filter(F.col("n") < n_fields).limit(3).collect()
            ]
            raise DataException(
                f"{source}: {at_least}{stats['n_missing']} row(s) with missing "
                f"fields (expected {n_fields}): {examples}"
            )
        if stats["n_extra"] and on_warning:
            on_warning(
                f"{source}: {at_least}{stats['n_extra']} row(s) had extra "
                "fields; extras dropped"
            )
    df = df.drop(_CORRUPT)

    # All-strings model: nulls from unquoted-empty become '' (phaser reads
    # every CSV value as a string; '' is "blank", not null).
    df = df.select(*[F.coalesce(F.col(f"`{h}`"), F.lit("")).alias(h) for h in headers])

    # Drop rows where every value is empty/whitespace (phaser/io.py:52-56).
    non_empty = None
    for h in headers:
        c = F.trim(F.col(f"`{h}`")) != ""
        non_empty = c if non_empty is None else (non_empty | c)
    if non_empty is not None:
        df = df.filter(non_empty)

    if row_numbers:
        df = with_row_numbers(df)
    return df


def read_json(
    spark: SparkSession, source: str, row_numbers: bool = True
) -> DataFrame:
    """JSON-records scan: top-level array of dicts (phaser/io.py:14-26).

    Nested objects become ``StructType`` columns (flattened on demand by
    ``flatten_column``/``flatten_all``).
    """
    df = spark.read.option("multiLine", True).json(source)
    if df.columns == [_CORRUPT] or not df.columns:
        raise DataException(f"{source}: not a JSON list of records")
    if row_numbers:
        df = with_row_numbers(df)
    return df


def normalize_null_literals(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Map literal "NULL"/"None" strings to real nulls (phaser/io.py:115-162)."""
    cols = columns or [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    out = df
    for c in cols:
        if c in df.columns:
            out = out.withColumn(
                c, F.when(F.col(f"`{c}`").isin(*NULL_LITERALS), None).otherwise(F.col(f"`{c}`"))
            )
    return out


def normalize_event_time(
    df: DataFrame, column: str, long_unit: str = "nanos"
) -> DataFrame:
    """Normalize an event-time column to ``TIMESTAMP`` (LTZ) regardless of
    how the source physically stored it.

    Spark's watermark/stateful-streaming operators require ``TIMESTAMP``
    and reject ``TIMESTAMP_NTZ`` outright
    (``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``), yet parquet writers commonly
    emit ``TIMESTAMP_MICROS isAdjustedToUTC=0`` (read back as NTZ) or
    ``TIMESTAMP(NANOS)`` (readable only as ``bigint`` via
    ``spark.sql.legacy.parquet.nanosAsLong``).  Dispatch on the observed
    dtype so one pipeline definition works over any of these shapes:

    - ``bigint``        — epoch integer in ``long_unit``
      (``nanos``/``micros``/``millis``/``seconds``) → ``timestamp``.
    - ``timestamp_ntz`` — wall-clock cast to LTZ in the session timezone
      (value-preserving when the session timezone matches the writer's —
      pin ``spark.sql.session.timeZone`` for cross-engine parity).
    - ``timestamp``     — already LTZ; returned unchanged.
    - ``string``/``date`` — plain ``CAST`` (ISO-8601 strings).

    All branches are pure Catalyst expressions — no UDF, fully codegen'd,
    and safe on both batch and streaming DataFrames (streaming schemas are
    resolved at plan time, so the dtype dispatch happens exactly once on
    the driver).
    """
    field = {f.name: f for f in df.schema.fields}.get(column)
    if field is None:
        raise DataException(f"normalize_event_time: no column '{column}' in {df.columns}")
    dt = field.dataType
    if isinstance(dt, T.LongType):
        if long_unit == "nanos":
            expr = F.expr(f"timestamp_micros(`{column}` div 1000)")
        elif long_unit == "micros":
            expr = F.expr(f"timestamp_micros(`{column}`)")
        elif long_unit == "millis":
            expr = F.expr(f"timestamp_millis(`{column}`)")
        elif long_unit == "seconds":
            expr = F.expr(f"timestamp_seconds(`{column}`)")
        else:
            raise DataException(
                f"normalize_event_time: unknown long_unit '{long_unit}' "
                "(expected nanos|micros|millis|seconds)"
            )
        return df.withColumn(column, expr)
    if isinstance(dt, (T.TimestampNTZType, T.StringType, T.DateType)):
        return df.withColumn(column, F.col(f"`{column}`").cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    raise DataException(
        f"normalize_event_time: cannot normalize '{column}' of type {dt.simpleString()}"
    )


# --------------------------------------------------------------------------
# Sinks
# --------------------------------------------------------------------------

def _stringify_complex(df: DataFrame) -> DataFrame:
    """CSV cannot hold arrays/structs: stringify them Python-style.

    Parity: the reference saves list values as ``"['a', 'b']"``
    (``tests/test_csv.py:151-157``).
    """
    out = df
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.ArrayType):
            if isinstance(f.dataType.elementType, T.StringType):
                inner = F.array_join(
                    F.transform(c, lambda x: F.concat(F.lit("'"), x, F.lit("'"))), ", "
                )
            else:
                inner = F.array_join(c.cast(T.ArrayType(T.StringType())), ", ")
            out = out.withColumn(
                f.name, F.when(c.isNull(), None).otherwise(F.concat(F.lit("["), inner, F.lit("]")))
            )
        elif isinstance(f.dataType, (T.StructType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(c))
    return out


def _collect_parts(tmp: str, pattern: str, filename: str, header_lines: int = 0) -> None:
    """Stream Spark part-files into one output file without loading rows."""
    parts = sorted(glob.glob(os.path.join(tmp, pattern)))
    with open(filename, "wb") as out:
        for i, part in enumerate(parts):
            with open(part, "rb") as f:
                if i > 0 and header_lines:
                    for _ in range(header_lines):
                        f.readline()
                shutil.copyfileobj(f, out)


def save_csv(df: DataFrame, filename: str, single_file: bool = True) -> None:
    """CSV sink (phaser/io.py:164-190): nulls → empty string, lists
    stringified; one output file for CLI parity (part-files streamed
    together driver-side, no row materialization).

    Spark's CSV writer TRIMS leading/trailing whitespace by default
    (write-side ``ignoreLeading/TrailingWhiteSpace`` default to true) —
    silently turning ``"  "`` into ``""`` and ``" x "`` into ``"x"`` at
    every checkpoint, where the reference round-trips them (caught by
    the randomized differential harness' blank axis).  Both disabled."""
    out = _stringify_complex(df)
    opts = dict(
        header=True,
        nullValue="",
        emptyValue="",
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    )
    if single_file:
        tmp = tempfile.mkdtemp(prefix="phaser_csv_")
        try:
            out.coalesce(1).write.mode("overwrite").options(**opts).csv(tmp)
            _collect_parts(tmp, "part-*.csv", filename, header_lines=1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    else:
        out.write.mode("overwrite").options(**opts).csv(filename)


def save_json(df: DataFrame, filename: str, single_file: bool = True) -> None:
    """JSON sink: a single top-level array (phaser/io.py:29-31), built by
    streaming NDJSON part-files — constant driver memory."""
    if not single_file:
        df.write.mode("overwrite").json(filename)
        return
    tmp = tempfile.mkdtemp(prefix="phaser_json_")
    try:
        df.coalesce(1).write.mode("overwrite").json(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(filename, "w", encoding="utf-8") as out:
            out.write("[")
            first = True
            for part in parts:
                with open(part, encoding="utf-8") as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        if not first:
                            out.write(",\n")
                        out.write(line)
                        first = False
            out.write("]")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_jsonl(
    spark: SparkSession, source: str, row_numbers: bool = True
) -> DataFrame:
    """NDJSON scan (``.jsonl``/``.ndjson``: one JSON object per line) —
    the SCALE-PATH JSON encoding (engine addition; the reference only
    reads array-of-records files, phaser/io.py:14-26).  A top-level
    array must be parsed as one document (unsplittable, whole-file in
    one task); NDJSON splits on newlines, so a 100 TB corpus scans in
    parallel like any line format.  Nested objects become ``StructType``
    columns, same as :func:`read_json`.

    Fail-loud on PARTIAL corruption: unlike multiLine ``read_json``
    (where parsing is all-or-nothing), the common NDJSON failure mode is
    one bad line in millions — silently yielding an all-NULL row plus a
    leaked ``_corrupt_record`` column would poison phases and
    checkpoints downstream.  Mirrors ``read_csv``'s discipline: probe
    the corrupt sliver (clean files early-exit at the first task that
    returns rows), raise ``DataException`` with an exact-under-cap count
    and examples."""
    df = spark.read.json(source)  # multiLine=False: line-splittable
    if df.columns == [_CORRUPT] or not df.columns:
        raise DataException(f"{source}: not NDJSON (one JSON object per line)")
    if _CORRUPT in df.columns:
        # .first() references every column, so the raw-scan restriction
        # on corrupt-column-only queries never trips; the sliver is
        # materialized once (localCheckpoint) before the corrupt column
        # alone is selected for examples
        corrupt_rows = df.filter(F.col(_CORRUPT).isNotNull())
        if corrupt_rows.first() is not None:
            # lazy: the count() materializes the capped sliver in one job
            sliver = corrupt_rows.limit(_SLIVER_CAP).localCheckpoint(eager=False)
            n_bad = sliver.count()
            at_least = "at least " if n_bad >= _SLIVER_CAP else ""
            examples = [r[0] for r in sliver.select(_CORRUPT).limit(3).collect()]
            raise DataException(
                f"{source}: {at_least}{n_bad} malformed NDJSON line(s), "
                f"e.g. {examples}"
            )
        df = df.drop(_CORRUPT)
    if row_numbers:
        df = with_row_numbers(df)
    return df


def save_jsonl(df: DataFrame, filename: str, single_file: bool = True) -> None:
    """NDJSON sink: one JSON object per line.  ``single_file=False``
    writes a part-file directory (the cluster path — each task streams
    its own split); ``single_file=True`` concatenates parts with
    constant driver memory (the reference-parity convenience path)."""
    if not single_file:
        df.write.mode("overwrite").json(filename)
        return
    tmp = tempfile.mkdtemp(prefix="phaser_jsonl_")
    try:
        df.coalesce(1).write.mode("overwrite").json(tmp)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(filename, "w", encoding="utf-8") as out:
            for part in parts:
                with open(part, encoding="utf-8") as f:
                    for line in f:
                        if line.strip():
                            out.write(line if line.endswith("\n") else line + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def save_parquet_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table sink (engine addition; the reference has no
    co-location story at all).

    Bucketing pre-shuffles a table ONCE at write time: rows are hashed on
    ``bucket_cols`` into ``num_buckets`` files per partition, and the
    layout is recorded in the session catalog.  Every later equi-join or
    aggregation on the bucket key then skips its Exchange entirely — the
    dominant cost of large-table joins at 100 TB, paid once instead of per
    query.  Both join sides must be bucketed on the join key with the same
    bucket count (``tests/test_plans.py::test_bucketed_join_skips_shuffle``
    asserts the shuffle-free SortMergeJoin plan).

    ``sort_cols`` additionally sorts within each bucket file, letting the
    join skip its Sort as well.  ``path`` makes the table external (data at
    ``path``, metadata in the catalog); without it the table is managed
    under ``spark.sql.warehouse.dir``.  Size ``num_buckets`` so one bucket
    of the FACT table fits an executor core's working memory at target
    scale (e.g. 100 TB / 32768 buckets ≈ 3 GB per bucket)."""
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def save_parquet(df: DataFrame, path: str) -> None:
    """Native columnar checkpoint (engine addition; the scale path)."""
    df.write.mode("overwrite").parquet(path)


def save_parquet_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    before_write: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Range-clustered parquet sink for data skipping (engine addition).

    ``repartitionByRange(sort_cols)`` + ``sortWithinPartitions`` lays rows
    out so each file — and each parquet row group inside it — covers a
    narrow, near-disjoint range of ``sort_cols``.  Parquet stores min/max
    statistics per row group; a pushed-down predicate on the sort column
    then skips whole row groups at read time (and engines with file-level
    stats skip whole files).  On an unsorted layout every row group's
    min/max spans the full domain and nothing can be skipped — at 100 TB
    the difference between a point query touching a few hundred MB versus
    scanning the table.  The classic fit: time-ordered event/fact tables
    queried by time range.

    The one-time cost is a single range shuffle at write (sampling pass +
    exchange — same price as any repartition).  ``num_files`` bounds the
    output file count (range partitioning keeps files near-equal-sized by
    row count); ``partition_by`` composes hive-style directory partitions
    (coarse pruning at planning time) with in-file range clustering (fine
    row-group pruning at scan time).

    Row-group skipping is verified from the written footers in
    ``tests/test_io.py::test_sorted_parquet_row_groups_are_skippable``.

    ``before_write`` maps the clustered frame just before the sink.  It
    runs after the range exchange, so an ``Observation`` attached there
    counts each row once (observed below the exchange, the range
    partitioner's sampling job would count rows too).
    """
    cols = [F.col(c) for c in sort_cols]
    if num_files:
        clustered = df.repartitionByRange(num_files, *cols)
    else:
        clustered = df.repartitionByRange(*cols)
    clustered = clustered.sortWithinPartitions(*cols)
    if before_write is not None:
        clustered = before_write(clustered)
    writer = clustered.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def save_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    len_col: str | None = None,
    manifest: bool = True,
    seed: str | int | None = None,
) -> list[dict]:
    """Training-shard parquet sink: write the frame as ``n_shards``
    near-equal token-mass shards (hive-partitioned ``shard=<i>``
    directories, one file per shard), plus a driver-written
    ``_shards_manifest.json`` recording per-shard row and weight totals.

    The assignment is :func:`phaser_spark.ops.sampling.assign_shards` —
    a pure function of corpus content (md5 order + exclusive prefix
    mass), so re-running the pipeline reproduces byte-identical shard
    MEMBERSHIP (training jobs can resume / compare across runs), and no
    shard exceeds its neighbors by more than one document's weight.

    Scale: the assignment is two aggregates and a bucketed window (no
    global sort); the write is ONE range shuffle on the shard id —
    ``repartitionByRange`` keeps shard i wholly in partition i, so
    exactly one file per shard without a post-pass.  Rows are sorted by
    the md5 order within each shard, so a shard is also a deterministic
    SEQUENCE, not just a set.  ``seed`` (per training epoch) reshuffles
    both membership and in-shard order, equally balanced and equally
    reproducible.  The manifest aggregate is n_shards rows.
    Returns the manifest entries."""
    from .ops.sampling import assign_shards

    assigned = assign_shards(df, key_col, n_shards, len_col=len_col, seed=seed)
    if seed is None:
        md5 = F.md5(F.col(key_col).cast("string"))
    else:
        md5 = F.md5(F.concat(F.lit(f"{seed}|"), F.col(key_col).cast("string")))
    (
        assigned.repartitionByRange(n_shards, F.col("shard"))
        .sortWithinPartitions(F.col("shard"), md5, F.col(key_col))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    entries: list[dict] = []
    if manifest:
        # stats come from the files just written (one cheap scan of the
        # new parquet), not from re-executing the assignment lineage —
        # the caller's upstream may be an expensive curation pipeline
        written = df.sparkSession.read.parquet(path)
        wt = (
            F.col(len_col).cast("double") if len_col else F.lit(1.0)
        )
        stats = {
            int(r["shard"]): r
            for r in written.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.coalesce(wt, F.lit(0.0))).alias("weight"),
            )
            .collect()
        }
        # every shard id appears, including EMPTY ones (a document
        # heavier than total/n spans several shard widths, leaving gaps;
        # the hive layout only materializes non-empty directories, so
        # loaders should iterate this manifest, not range(n_shards) dirs)
        entries = [
            {
                "shard": s,
                "n_rows": int(stats[s]["n_rows"]) if s in stats else 0,
                "weight": float(stats[s]["weight"]) if s in stats else 0.0,
            }
            for s in range(n_shards)
        ]
        with open(os.path.join(path, "_shards_manifest.json"), "w") as f:
            json.dump(
                {"n_shards": n_shards, "key": key_col, "len": len_col,
                 "shards": entries},
                f,
                indent=1,
            )
    return entries


def zorder_key(df: DataFrame, cols: list[str], bits: int = 12):
    """Z-order (Morton) key over numeric/temporal columns: each column is
    linearly bucketed into ``2^bits`` cells between its min and max (two
    tiny driver-side scalars per column), and the bucket bits are
    interleaved into one long.  Sorting by this key clusters rows so that
    a predicate on ANY of the columns — not just the leading one — maps
    to a contiguous-ish set of files/row groups (the multi-dimensional
    data-skipping layout; a plain compound sort only skips on its prefix).

    Pure codegen: ``bits × len(cols)`` shift/or terms, no UDF, no extra
    shuffle beyond the range repartition of the write.  Linear bucketing
    is skew-sensitive (a heavy hitter collapses buckets); for Zipf-heavy
    columns, pre-transform (e.g. ``F.log1p``) before z-ordering.
    Returns the key Column; compose with ``save_parquet_zordered``.
    """
    if not cols or len(cols) > 4:
        raise PhaserError("zorder_key takes 1-4 columns")
    if bits * len(cols) > 60:
        raise PhaserError("zorder_key: bits * len(cols) must be <= 60")
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c, "")
        ok = dt in ("date", "boolean") or dt.startswith(
            ("int", "bigint", "smallint", "tinyint", "float", "double",
             "decimal", "timestamp")
        )
        if not ok:
            # an ANSI-mode cast("double") on e.g. a string column would
            # throw mid-job with an opaque error; fail at build time instead
            raise PhaserError(
                f"zorder_key: column '{c}' has non-numeric/temporal type "
                f"{dt!r} — z-order needs an orderable numeric domain"
            )
    def _as_double(c: str):
        # NTZ/date go through LTZ (a direct double cast is invalid)
        e = F.col(c)
        if dtypes.get(c, "").startswith("timestamp") or dtypes.get(c) == "date":
            e = e.cast("timestamp")
        return e.cast("double")

    stats = df.select(
        *[
            f
            for c in cols
            for f in (
                F.min(_as_double(c)).alias(f"mn_{c}"),
                F.max(_as_double(c)).alias(f"mx_{c}"),
            )
        ]
    ).collect()[0]
    n_cells = (1 << bits) - 1
    bucketed = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None:  # empty input / all-null column
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        b = F.least(
            F.lit(n_cells),
            F.greatest(
                F.lit(0),
                F.floor(
                    (_as_double(c) - F.lit(mn)) / F.lit(span) * F.lit(n_cells + 1)
                ).cast("long"),
            ),
        )
        bucketed.append(b)
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(bucketed):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * len(cols) + j)
            )
    return key


def save_parquet_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Z-order-clustered parquet sink: multi-column data skipping (see
    ``zorder_key``).  Row-group min/max stats then prune for predicates
    on any of ``cols``; the single-column case degenerates to
    ``save_parquet_sorted``."""
    ZKEY = "__phaser_zorder__"
    keyed = df.withColumn(ZKEY, zorder_key(df, cols, bits))
    clustered = (
        keyed.repartitionByRange(num_files, ZKEY)
        if num_files
        else keyed.repartitionByRange(ZKEY)
    )
    clustered.sortWithinPartitions(ZKEY).drop(ZKEY).write.mode(
        "overwrite"
    ).parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _list_data_files(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of data files under ``path``, via the Hadoop
    FileSystem API — works on local, HDFS, and object stores alike."""
    fs, jpath = _hadoop_fs(spark, path)
    it = fs.listFiles(jpath, True)
    n = total = 0
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        n += 1
        total += st.getLen()
    return n, total


def compact_parquet_output(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into ~``target_file_bytes`` files,
    preserving rows and (optionally) the hive partition layout.

    The 100 TB failure mode this exists for: a continuously running
    micro-batch sink (``Pipeline.run_stream``) writes one directory per
    batch, each holding up to ``shuffle.partitions`` files — a day of
    1-minute triggers on a 32-way session is ~46k files, and both the
    namenode/object-store listing and every downstream scan's task
    scheduling degrade linearly in file count.  Periodic compaction is
    the standard answer (every table format does this; here it is explicit
    maintenance for a plain parquet layout).

    Rows are hashed into ``ceil(total_bytes / target_file_bytes)`` output
    tasks — on ``(partition_col, xxhash64(row))`` when partitioned, so
    each hive partition's rows stay together per task while the hot ones
    still spread.  The rewrite lands in a sibling temp dir, is row-count
    verified, and then swapped in; the swap (delete + rename) is NOT
    atomic — pause writers of ``path`` for the swap window.  Readers of
    the streaming output table are unaffected semantically: row numbers
    and the partition column survive byte-identical, so a restarted
    stream's max+1 numbering reads the same values.

    ``sort_by`` / ``zorder_by`` (mutually exclusive) turn the rewrite
    into a re-CLUSTERING pass as well — the ``OPTIMIZE ... ZORDER BY``
    maintenance idiom: since compaction already pays a full rewrite, the
    same pass can restore range/z-order locality that a streaming or
    append workload destroyed, re-enabling row-group skipping
    (``save_parquet_sorted`` / ``save_parquet_zordered`` rationale).

    Returns ``{"files_before", "files_after", "bytes", "rows"}``.
    """
    from .exceptions import PhaserError

    if sort_by and zorder_by:
        raise PhaserError(
            "compact_parquet_output: sort_by and zorder_by are mutually exclusive"
        )
    df = spark.read.parquet(path)
    n_before, total = _list_data_files(spark, path)
    n_rows = df.count()
    n_out = max(1, -(-total // max(1, target_file_bytes)))
    cluster_cols: list = []
    drop_after: list[str] = []
    if sort_by:
        cluster_cols = [F.col(c) for c in sort_by]
    elif zorder_by:
        ZKEY = "__phaser_zorder__"
        df = df.withColumn(ZKEY, zorder_key(df, zorder_by))
        cluster_cols = [F.col(ZKEY)]
        drop_after = [ZKEY]
    if partition_col is not None:
        if partition_col not in df.columns:
            raise PhaserError(
                f"compact_parquet_output: no partition column '{partition_col}'"
                f" in {df.columns}"
            )
        if cluster_cols:
            repart = df.repartitionByRange(
                int(n_out), F.col(f"`{partition_col}`"), *cluster_cols
            ).sortWithinPartitions(F.col(f"`{partition_col}`"), *cluster_cols)
        else:
            others = [F.col(f"`{c}`") for c in df.columns if c != partition_col]
            spread = F.xxhash64(*others) if others else F.lit(0)
            repart = df.repartition(int(n_out), F.col(f"`{partition_col}`"), spread)
        repart = repart.drop(*drop_after) if drop_after else repart
        writer = repart.write.mode("overwrite").partitionBy(partition_col)
    elif cluster_cols:
        repart = df.repartitionByRange(int(n_out), *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
        repart = repart.drop(*drop_after) if drop_after else repart
        writer = repart.write.mode("overwrite")
    else:
        writer = df.repartition(int(n_out)).write.mode("overwrite")
    tmp = path.rstrip("/") + "__compacting"
    writer.parquet(tmp)
    n_new_rows = spark.read.parquet(tmp).count()
    fs, jpath = _hadoop_fs(spark, path)
    if n_new_rows != n_rows:
        fs.delete(spark._jvm.org.apache.hadoop.fs.Path(tmp), True)
        raise PhaserError(
            f"compact_parquet_output: rewrite row count {n_new_rows} != "
            f"original {n_rows}; original left untouched"
        )
    # Hadoop FileSystem.delete/rename report many failures by RETURNING
    # false rather than throwing (object-store rename quirks, existing
    # destination on some implementations); an unchecked swap could delete
    # the original and report success while the rows sit in the temp dir.
    if not fs.delete(jpath, True):
        raise PhaserError(
            f"compact_parquet_output: could not delete {path} for the swap; "
            f"rewritten data is intact at {tmp}"
        )
    if not fs.rename(spark._jvm.org.apache.hadoop.fs.Path(tmp), jpath):
        raise PhaserError(
            f"compact_parquet_output: rename {tmp} -> {path} failed AFTER "
            f"the original was removed; recover the rewritten table from {tmp}"
        )
    n_after, _ = _list_data_files(spark, path)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes": total,
        "rows": n_rows,
    }


def load_any(spark: SparkSession, source: str, save_format: str | None = None) -> DataFrame:
    """Extension-based format dispatch (reference ``Pipeline.load``,
    phaser/pipeline.py:244-252)."""
    fmt = save_format or _format_of(source)
    if fmt == JSON_RECORD_FORMAT:
        return read_json(spark, source)
    if fmt == JSONL_FORMAT_NAME:
        return read_jsonl(spark, source)
    if fmt == PARQUET_FORMAT_NAME:
        return spark.read.parquet(source)
    if fmt == ORC_FORMAT_NAME:
        return spark.read.orc(source)
    return read_csv(spark, source)


PARQUET_FORMAT_NAME = "parquet"
ORC_FORMAT_NAME = "orc"
JSONL_FORMAT_NAME = "jsonl"


#: Compression suffixes stripped before extension dispatch: Spark's text
#: readers (csv/json) decode these transparently via Hadoop codecs.
#: CAVEAT for 100 TB inputs: gzip is NOT splittable — each .gz file is
#: one task, so a corpus should arrive as MANY files (bzip2 splits, at
#: a high CPU cost; prefer uncompressed/zstd-framed parquet for scale).
_COMPRESSION_SUFFIXES = (".gz", ".bz2", ".zst")


def _format_of(source: str) -> str:
    base = str(source)
    low = base.lower()
    for suf in _COMPRESSION_SUFFIXES:
        if low.endswith(suf):
            base = base[: -len(suf)]
            break
    ext = os.path.splitext(base)[1].lower()
    if ext == ".json":
        return JSON_RECORD_FORMAT
    if ext in (".jsonl", ".ndjson"):
        return JSONL_FORMAT_NAME
    if ext == ".parquet":
        return PARQUET_FORMAT_NAME
    if ext == ".orc":
        return ORC_FORMAT_NAME
    return CSV_FORMAT


def save_any(df: DataFrame, filename: str, save_format: str) -> None:
    if save_format == JSON_RECORD_FORMAT:
        save_json(df, filename)
    elif save_format == JSONL_FORMAT_NAME:
        save_jsonl(df, filename)
    elif save_format == PARQUET_FORMAT_NAME:
        save_parquet(df, filename)
    elif save_format == ORC_FORMAT_NAME:
        df.write.mode("overwrite").orc(filename)
    else:
        save_csv(df, filename)


# --------------------------------------------------------------------------
# Extra sources / outputs (side datasets)
# --------------------------------------------------------------------------

class SavableObject:
    """Named side dataset passed between phases (phaser/io.py:193-222)."""

    def __init__(self, name: str, df: DataFrame | None = None, to_save: bool = True):
        if not name or not isinstance(name, str):
            raise PhaserError("Extra source/output needs a non-empty string name")
        self.name = name
        self.df = df
        self.to_save = to_save

    format = CSV_FORMAT

    def load(self, spark: SparkSession, path: str) -> None:
        self.df = load_any(spark, path)

    def save(self, working_dir: str) -> str | None:
        if self.df is None or not self.to_save:
            return None
        path = os.path.join(working_dir, f"{self.name}.csv")
        save_csv(self.df.drop(PHASER_ROW_NUM) if PHASER_ROW_NUM in self.df.columns else self.df, path)
        return path


class ExtraRecords(SavableObject):
    """List-of-dicts side dataset (phaser/io.py:193-222) — here a DataFrame."""

    def __init__(self, name: str, data=None, to_save: bool = True, spark: SparkSession | None = None):
        super().__init__(name, to_save=to_save)
        if data is not None:
            if isinstance(data, DataFrame):
                self.df = data
            else:
                spark = spark or SparkSession.active()
                self.df = spark.createDataFrame(list(data))


class ExtraMapping(SavableObject):
    """Key→value side dataset serialized as a 2-column table
    (phaser/io.py:224-241).  Backed by a DataFrame with columns
    ``key``/``value``; small maps broadcast cleanly into joins."""

    def __init__(self, name: str, data=None, to_save: bool = True, spark: SparkSession | None = None):
        super().__init__(name, to_save=to_save)
        if data is not None:
            if isinstance(data, DataFrame):
                self.df = data
            elif isinstance(data, dict):
                if data:
                    spark = spark or SparkSession.active()
                    self.df = spark.createDataFrame(
                        [(str(k), v) for k, v in data.items()], ["key", "value"]
                    )
                # empty initial mapping (e.g. defaultdict(int)) stays df=None
                # until an extra-output accumulation fills it
            else:
                raise PhaserError("ExtraMapping needs a dict or a 2-column DataFrame")

    def load(self, spark: SparkSession, path: str) -> None:
        df = load_any(spark, path)
        cols = [c for c in df.columns if c != PHASER_ROW_NUM]
        if len(cols) != 2:
            raise DataException(
                f"ExtraMapping {self.name}: expected exactly 2 columns, got {cols}"
            )
        self.df = df.select(F.col(f"`{cols[0]}`").alias("key"), F.col(f"`{cols[1]}`").alias("value"))

    def to_dict(self) -> dict:
        """Driver-side dict for small maps (broadcast into row steps).

        Bounded: materializing the mapping pulls every row into the
        driver AND into every task closure, so maps past
        ``ROW_STEP_SOURCE_MAX_ROWS`` fail loudly instead of silently
        OOMing a 1000-executor job — route big sides through
        ``ops.relational.join_step`` (a broadcast/shuffle join) instead.
        """
        if self.df is None:
            return {}
        rows = self.df.limit(ROW_STEP_SOURCE_MAX_ROWS + 1).collect()
        if len(rows) > ROW_STEP_SOURCE_MAX_ROWS:
            raise PhaserError(
                f"ExtraMapping {self.name!r} has more than "
                f"{ROW_STEP_SOURCE_MAX_ROWS} rows and cannot be "
                "materialized into the driver for a row step. Join it "
                "instead: phaser_spark.ops.relational.join_step broadcasts "
                "small sides and shuffle-joins large ones. (Raise the cap "
                "via PHASER_SPARK_ROW_STEP_SOURCE_MAX_ROWS only if every "
                "executor can hold the whole map in memory.)"
            )
        return {r["key"]: r["value"] for r in rows}
