"""CSV/JSON ingest conformance (reference tests/test_csv.py shapes, SURVEY §2.1)."""
import os

import pytest
from pyspark.sql import functions as F

from phaser_spark import DataException, read_csv, read_json, save_csv, save_json
from phaser_spark.constants import PHASER_ROW_NUM
from phaser_spark.lineage import with_row_numbers


def w(tmp_path, name, content, encoding="utf-8"):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w", encoding=encoding) as f:
        f.write(content)
    return p


def test_comment_and_empty_lines_skipped(spark, tmp_path):
    p = w(tmp_path, "a.csv", "x,y\n# comment\n1,2\n\n3,4\n")
    df = read_csv(spark, p)
    assert df.count() == 2
    nums = sorted(r[PHASER_ROW_NUM] for r in df.collect())
    assert nums == [1, 2]


def test_header_beyond_200_comment_lines(spark, tmp_path):
    # the old sniff gave up after 200 lines and misreported "no header"
    p = w(tmp_path, "deep.csv", "# c\n" * 500 + "x,y\n1,2\n")
    df = read_csv(spark, p)
    assert df.columns[:2] == ["x", "y"] and df.count() == 1


def test_sniff_remote_fallback_utf8_ok_latin1_refused(spark, tmp_path):
    """Remote-path sniffing (mocked by failing local open()): UTF-8 works
    through textFile; a non-UTF-8 request only fails when the header
    actually carries non-ASCII bytes — Hadoop's line reader transcodes
    via UTF-8 Text, which corrupts exactly those; an all-ASCII header
    sniffs identically under any ASCII-compatible encoding."""
    import builtins

    from phaser_spark import io as pio

    p8 = w(tmp_path, "u8.csv", "x,y\n1,2\n")
    pa = w(tmp_path, "ascii_latin.csv", "x,y\n1,caf\xe9\n", encoding="latin-1")
    pl = w(tmp_path, "latin.csv", "na\xefve,y\n1,2\n", encoding="latin-1")
    real_open = builtins.open

    def deny(f, *a, **k):
        if f in (p8, pa, pl):
            raise OSError("pretend remote")
        return real_open(f, *a, **k)

    try:
        builtins.open = deny
        assert pio._sniff_headers(p8, ",", "utf-8", spark=spark) == ["x", "y"]
        # ASCII header: latin-1 request succeeds (non-ASCII only in DATA,
        # which the sniff never touches — the scan reads it with the
        # requested encoding)
        assert pio._sniff_headers(pa, ",", "latin-1", spark=spark) == ["x", "y"]
        with pytest.raises(DataException, match="non-ASCII"):
            pio._sniff_headers(pl, ",", "latin-1", spark=spark)
    finally:
        builtins.open = real_open


def test_sniff_headers_closes_local_file(tmp_path):
    """The local sniff hands back an open file object; it must be closed
    on every exit path (success AND the duplicate-header error), not
    abandoned to GC — long-lived drivers read thousands of CSVs."""
    import gc
    import warnings

    from phaser_spark import io as pio

    ok = w(tmp_path, "ok.csv", "a,b\n1,2\n")
    dup = w(tmp_path, "dup.csv", "a,a\n1,2\n")
    with warnings.catch_warnings():
        warnings.simplefilter("error", ResourceWarning)
        assert pio._sniff_headers(str(ok), ",", "utf-8") == ["a", "b"]
        with pytest.raises(DataException, match="Duplicate"):
            pio._sniff_headers(str(dup), ",", "utf-8")
        gc.collect()  # an unclosed handle would raise ResourceWarning here


def test_all_empty_row_dropped(spark, tmp_path):
    p = w(tmp_path, "a.csv", "x,y\n1,2\n,\n3,4\n")
    df = read_csv(spark, p)
    assert df.count() == 2


def test_values_stay_strings_and_blank_preserved(spark, tmp_path):
    p = w(tmp_path, "a.csv", 'x,y\n1, padded \n2,""\n')
    rows = {r["x"]: r["y"] for r in read_csv(spark, p).collect()}
    assert rows["1"] == " padded "  # value spaces preserved (tests/test_csv.py:61-71)
    assert rows["2"] == ""


def test_missing_field_errors(spark, tmp_path):
    p = w(tmp_path, "a.csv", "x,y,z\n1,2,3\n4,5\n")
    with pytest.raises(DataException, match="missing fields"):
        read_csv(spark, p)


def test_missing_field_beyond_sample_window_still_errors(spark, tmp_path):
    """The classification must be exact over ALL corrupt rows: a short
    row hiding behind 60 extra-field rows (past any fixed sample size)
    must still raise."""
    body = "x,y\n" + "".join(f"{i},{i},{i}\n" for i in range(60)) + "99\n"
    p = w(tmp_path, "a.csv", body)
    with pytest.raises(DataException, match="missing fields"):
        read_csv(spark, p)


def test_extra_field_count_is_exact(spark, tmp_path):
    body = "x,y\n1,2\n" + "".join(f"{i},{i},{i}\n" for i in range(60))
    p = w(tmp_path, "a.csv", body)
    warnings = []
    df = read_csv(spark, p, on_warning=warnings.append)
    assert df.count() == 61
    assert warnings and "60 row(s) had extra fields" in warnings[0]


def test_extra_field_warns(spark, tmp_path):
    p = w(tmp_path, "a.csv", "x,y\n1,2\n3,4,5\n")
    warnings = []
    df = read_csv(spark, p, on_warning=warnings.append)
    assert df.count() == 2
    assert warnings and "extra fields" in warnings[0]


def test_tab_and_semicolon_delimiters(spark, tmp_path):
    p1 = w(tmp_path, "t.csv", "x\ty\n1\t2\n")
    p2 = w(tmp_path, "s.csv", "x;y\n1;2\n")
    assert read_csv(spark, p1, delimiter="\t").collect()[0]["y"] == "2"
    assert read_csv(spark, p2, delimiter=";").collect()[0]["y"] == "2"


def test_quoted_headers_with_spaces(spark, tmp_path):
    p = w(tmp_path, "a.csv", '"First name","Last name"\na,b\n')
    df = read_csv(spark, p)
    assert "First name" in df.columns


def test_values_containing_commas(spark, tmp_path):
    p = w(tmp_path, "a.csv", 'x,y\n1,"a, b"\n')
    assert read_csv(spark, p).collect()[0]["y"] == "a, b"


def test_unicode_values(spark, tmp_path):
    p = w(tmp_path, "a.csv", "from,to,rate\n$,€,0.93\n¥,₱,0.39\nJosé,œuvre,1\n")
    rows = [tuple(r)[:2] for r in read_csv(spark, p).collect()]
    assert ("$", "€") in rows and ("José", "œuvre") in rows


def test_10k_rows(spark, tmp_path):
    body = "".join(f"{i},{i*2}\n" for i in range(10000))
    p = w(tmp_path, "big.csv", "x,y\n" + body)
    df = read_csv(spark, p)
    assert df.count() == 10000
    nums = df.agg({PHASER_ROW_NUM: "max"}).collect()[0][0]
    assert nums == 10000


def test_json_records_roundtrip(spark, tmp_path):
    p = w(tmp_path, "a.json", '[{"id": 1, "msg": {"content": "hi"}}, {"id": 2, "msg": {"content": "yo"}}]')
    df = read_json(spark, p)
    assert df.count() == 2
    assert df.schema["msg"].dataType.typeName() == "struct"
    out = os.path.join(str(tmp_path), "out.json")
    save_json(df.drop(PHASER_ROW_NUM), out)
    import json

    data = json.load(open(out))
    assert isinstance(data, list) and len(data) == 2


def test_jsonl_roundtrip_and_dispatch(spark, tmp_path):
    # NDJSON (.jsonl/.ndjson): one object per line — the splittable
    # scale-path JSON encoding
    from phaser_spark.io import load_any, read_jsonl, save_jsonl

    p = w(
        tmp_path,
        "a.jsonl",
        '{"id": 1, "msg": {"content": "hi"}}\n{"id": 2, "msg": {"content": "yo"}}\n',
    )
    df = read_jsonl(spark, p)
    assert df.count() == 2
    assert df.schema["msg"].dataType.typeName() == "struct"
    # extension dispatch, incl. .ndjson
    assert load_any(spark, p).count() == 2
    p2 = w(tmp_path, "b.ndjson", '{"id": 3}\n')
    assert load_any(spark, p2).count() == 1
    # sink: one object per line, round-trips through load_any
    out = os.path.join(str(tmp_path), "out.jsonl")
    save_jsonl(df.drop(PHASER_ROW_NUM), out)
    import json

    lines = [ln for ln in open(out).read().splitlines() if ln.strip()]
    assert len(lines) == 2 and all(isinstance(json.loads(ln), dict) for ln in lines)
    assert load_any(spark, out).count() == 2


def test_jsonl_partial_corruption_raises(spark, tmp_path):
    """One malformed line among good ones must raise, not silently yield
    an all-NULL row plus a leaked _corrupt_record column (the common
    NDJSON failure mode: one bad line in millions)."""
    from phaser_spark.exceptions import DataException
    from phaser_spark.io import read_jsonl

    p = w(
        tmp_path,
        "bad.jsonl",
        '{"id": 1}\n{"id": 2, "oops\n{"id": 3}\n',
    )
    with pytest.raises(DataException, match="1 malformed NDJSON line"):
        read_jsonl(spark, p)
    # clean files still read fine and carry no corrupt column
    p2 = w(tmp_path, "ok.jsonl", '{"id": 1}\n{"id": 2}\n')
    df = read_jsonl(spark, p2)
    assert df.count() == 2 and "_corrupt_record" not in df.columns


def test_jsonl_pipeline_checkpoints(spark, tmp_path):
    # save_format="jsonl" checkpoints phases as NDJSON and re-loads them
    from phaser_spark import Column, Phase, Pipeline

    src = w(tmp_path, "in.jsonl", '{"k": "a"}\n{"k": "b"}\n{"k": "c"}\n')
    pipe = Pipeline(
        working_dir=str(tmp_path),
        source=src,
        phases=[Phase(name="P1", columns=[Column("k")])],
        spark=spark,
    )
    pipe.save_format = "jsonl"
    out = pipe.run()
    assert out.count() == 3
    ck = os.path.join(str(tmp_path), "P1_output.jsonl")
    assert os.path.exists(ck)
    import json

    rows = [json.loads(ln) for ln in open(ck).read().splitlines() if ln.strip()]
    assert sorted(r["k"] for r in rows) == ["a", "b", "c"]
    assert all(PHASER_ROW_NUM in r for r in rows)


def test_compressed_sources_read_and_dispatch(spark, tmp_path):
    # .csv.gz / .jsonl.gz / .csv.bz2: compression suffix is stripped for
    # format dispatch, header sniffing decodes driver-side, and the scan
    # itself decodes via Hadoop codecs (gzip caveat: unsplittable — one
    # task per file — documented at _COMPRESSION_SUFFIXES)
    import bz2
    import gzip

    from phaser_spark.io import load_any, read_csv

    gz_csv = os.path.join(str(tmp_path), "a.csv.gz")
    with gzip.open(gz_csv, "wt", encoding="utf-8") as f:
        f.write("# comment\nid,name\n1,ada\n2,grace\n")
    df = read_csv(spark, gz_csv)
    assert sorted(r["name"] for r in df.collect()) == ["ada", "grace"]
    assert load_any(spark, gz_csv).count() == 2  # dispatches as CSV

    bz_csv = os.path.join(str(tmp_path), "b.csv.bz2")
    with bz2.open(bz_csv, "wt", encoding="utf-8") as f:
        f.write("id,name\n3,alan\n")
    assert load_any(spark, bz_csv).count() == 1

    gz_jsonl = os.path.join(str(tmp_path), "c.jsonl.gz")
    with gzip.open(gz_jsonl, "wt", encoding="utf-8") as f:
        f.write('{"id": 1}\n{"id": 2}\n{"id": 3}\n')
    got = load_any(spark, gz_jsonl)  # dispatches as NDJSON, not CSV
    assert got.count() == 3 and "id" in got.columns


def test_save_csv_nulls_empty_and_lists(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None, ["a", "b"]), (2, "x", ["c"])],
        "id long, s string, arr array<string>",
    )
    out = os.path.join(str(tmp_path), "out.csv")
    save_csv(df, out)
    content = open(out).read()
    # None → empty; list stringified python-style (tests/test_csv.py:151-157)
    assert "1,,\"['a', 'b']\"" in content or "1,,['a', 'b']" in content


def test_save_csv_single_file_roundtrip(spark, tmp_path):
    df = with_row_numbers(spark.createDataFrame([("a",), ("b",)], ["k"]))
    out = os.path.join(str(tmp_path), "out.csv")
    save_csv(df, out)
    back = read_csv(spark, out)
    assert back.count() == 2


def test_format_dispatch_parquet_and_orc(spark, tmp_path):
    from phaser_spark.io import load_any, save_any

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    for fmt, ext in [("parquet", ".parquet"), ("orc", ".orc")]:
        path = os.path.join(str(tmp_path), f"t{ext}")
        save_any(df, path, fmt)
        back = load_any(spark, path)
        assert sorted((r.id, r.s) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_compact_parquet_output_partitioned(spark, tmp_path):
    # 3 hive partitions x 8 files each -> compaction collapses the file
    # count while preserving every row and the partition layout
    import glob
    import os

    from pyspark.sql import functions as F

    from phaser_spark.io import compact_parquet_output

    path = os.path.join(str(tmp_path), "frag")
    df = spark.range(0, 3000).select(
        (F.col("id") % 3).alias("b"), F.col("id").alias("v")
    )
    df.repartition(8).write.partitionBy("b").parquet(path)
    before = glob.glob(os.path.join(path, "b=*", "*.parquet"))
    assert len(before) >= 12  # genuinely fragmented
    orig = sorted((r["b"], r["v"]) for r in spark.read.parquet(path).collect())

    stats = compact_parquet_output(spark, path, partition_col="b")
    after = glob.glob(os.path.join(path, "b=*", "*.parquet"))
    assert stats["files_before"] == len(before)
    assert stats["files_after"] == len(after)
    assert len(after) < len(before)
    assert len({os.path.dirname(p).split("b=")[-1] for p in after}) == 3
    assert sorted((r["b"], r["v"]) for r in spark.read.parquet(path).collect()) == orig


def test_compact_parquet_output_unpartitioned(spark, tmp_path):
    import glob
    import os

    from phaser_spark.io import compact_parquet_output

    path = os.path.join(str(tmp_path), "flat")
    spark.range(0, 1000).repartition(16).write.parquet(path)
    assert len(glob.glob(os.path.join(path, "*.parquet"))) >= 16
    stats = compact_parquet_output(spark, path)
    assert stats["rows"] == 1000
    assert stats["files_after"] < stats["files_before"]
    assert spark.read.parquet(path).count() == 1000


def test_sorted_parquet_row_groups_are_skippable(spark, tmp_path):
    """save_parquet_sorted must produce a layout whose parquet min/max
    statistics actually enable skipping: for a narrow predicate window,
    only a small fraction of row groups may intersect — on the unsorted
    layout every row group spans the full domain and none can be skipped."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from phaser_spark.io import save_parquet_sorted

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sorted_dir, plain_dir = str(tmp_path / "sorted"), str(tmp_path / "plain")
    save_parquet_sorted(li, sorted_dir, ["l_shipdate"], num_files=8)
    li.repartition(8).write.mode("overwrite").parquet(plain_dir)

    def groups(d):
        out = []
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                col = next(
                    md.row_group(g).column(i)
                    for i in range(md.row_group(g).num_columns)
                    if md.row_group(g).column(i).path_in_schema == "l_shipdate"
                )
                out.append((col.statistics.min, col.statistics.max))
        return out

    s_groups, p_groups = groups(sorted_dir), groups(plain_dir)
    assert len(s_groups) >= 8 and len(p_groups) >= 8

    import datetime

    lo = datetime.datetime(1996, 1, 1)
    hi = datetime.datetime(1996, 3, 1)
    hits = lambda gs: sum(1 for mn, mx in gs if mx >= lo and mn <= hi)  # noqa: E731
    # sorted layout: the 2-month window lives in ~1 of 8 range slices
    assert hits(s_groups) <= len(s_groups) // 3
    # unsorted layout: every row group spans the domain — nothing skippable
    assert hits(p_groups) == len(p_groups)

    # rows survive the rewrite intact
    assert (
        spark.read.parquet(sorted_dir).filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1996-03-01")
        ).count()
        == li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1996-03-01")
        ).count()
    )


def test_save_csv_preserves_whitespace(spark, tmp_path):
    """Spark's CSV writer trims leading/trailing whitespace by default —
    the sink must disable that: '  ' (blank-but-not-empty) and ' x '
    round-trip exactly, as the reference's writer does (caught by the
    differential harness' blank axis)."""
    from phaser_spark.io import read_csv, save_csv

    df = spark.createDataFrame(
        [("  ", " x ", "a"), ("b", "c", "d")], "p string, q string, r string"
    )
    out = os.path.join(str(tmp_path), "ws.csv")
    save_csv(df, out)
    body = open(out).read()
    assert "  , x ,a" in body.replace('"', "")
    back = {r["r"]: (r["p"], r["q"]) for r in read_csv(spark, out).collect()}
    assert back["a"] == ("  ", " x ")


def test_save_training_shards_layout_and_manifest(spark, tmp_path):
    """save_training_shards: hive shard dirs with ONE data file each,
    membership identical to assign_shards, manifest totals exact, and a
    shard's in-file row order is the md5 sequence (shards are sequences,
    not just sets)."""
    import glob

    import json as _json

    from phaser_spark.io import save_training_shards
    from phaser_spark.ops.sampling import assign_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}", float(1 + (i * 13) % 97)) for i in range(500)],
        "doc_id long, text string, n_tokens double",
    )
    path = os.path.join(str(tmp_path), "shards")
    entries = save_training_shards(
        df, path, n_shards=4, key_col="doc_id", len_col="n_tokens"
    )
    assert [e["shard"] for e in entries] == [0, 1, 2, 3]
    assert sum(e["n_rows"] for e in entries) == 500
    total = sum(float(1 + (i * 13) % 97) for i in range(500))
    assert abs(sum(e["weight"] for e in entries) - total) < 1e-6
    for e in entries:
        files = glob.glob(os.path.join(path, f"shard={e['shard']}", "*.parquet"))
        assert len(files) == 1, files
    with open(os.path.join(path, "_shards_manifest.json")) as f:
        man = _json.load(f)
    assert man["n_shards"] == 4 and man["shards"] == entries
    # membership matches the pure assignment op
    want = {
        r["doc_id"]: r["shard"]
        for r in assign_shards(df, "doc_id", 4, len_col="n_tokens").collect()
    }
    back = spark.read.parquet(path)
    got = {r["doc_id"]: r["shard"] for r in back.collect()}
    assert got == want
    # in-file order of one shard follows (md5(key), key)
    import pyarrow.parquet as pq

    f0 = glob.glob(os.path.join(path, "shard=0", "*.parquet"))[0]
    ids = pq.read_table(f0, columns=["doc_id"]).column("doc_id").to_pylist()
    import hashlib

    assert ids == sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    # an epoch seed reshuffles membership but keeps the full corpus
    p2 = os.path.join(str(tmp_path), "shards_epoch1")
    e2 = save_training_shards(
        df, p2, n_shards=4, key_col="doc_id", len_col="n_tokens", seed=1
    )
    assert sum(e["n_rows"] for e in e2) == 500
    got2 = {r["doc_id"]: r["shard"] for r in spark.read.parquet(p2).collect()}
    assert got2 != got


def test_save_training_shards_empty_shards_in_manifest(spark, tmp_path):
    """A document heavier than total/n spans several shard widths,
    leaving EMPTY shards: the hive layout only materializes non-empty
    directories, so the manifest must still carry every shard id (with
    zero rows/weight) for loaders that iterate it."""
    from phaser_spark.io import save_training_shards

    df = spark.createDataFrame(
        [(1, 100.0), (2, 1.0), (3, 1.0), (4, 1.0)],
        "doc_id long, n_tokens double",
    )
    path = os.path.join(str(tmp_path), "gappy")
    entries = save_training_shards(
        df, path, n_shards=4, key_col="doc_id", len_col="n_tokens"
    )
    assert [e["shard"] for e in entries] == [0, 1, 2, 3]
    assert sum(e["n_rows"] for e in entries) == 4
    empty = [e for e in entries if e["n_rows"] == 0]
    assert empty, "expected at least one empty shard with a 100:1 heavy doc"
    assert all(e["weight"] == 0.0 for e in empty)
    # read-back agrees with the manifest
    back = spark.read.parquet(path).groupBy("shard").count().collect()
    got = {r["shard"]: r["count"] for r in back}
    for e in entries:
        assert got.get(e["shard"], 0) == e["n_rows"]


def test_zordered_parquet_skips_on_both_dimensions(spark, tmp_path):
    """Z-order layout: a narrow predicate on EITHER dimension must prune
    most row groups; a single-column sort can only prune on its prefix
    (the y-filter hits 100% of its row groups)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from phaser_spark.io import save_parquet_sorted, save_parquet_zordered

    grid = spark.range(0, 40000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / F.lit(200)).cast("long").alias("y"),
        F.col("id").alias("v"),
    ).orderBy(F.xxhash64("id"))  # destroy incidental order
    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    save_parquet_zordered(grid, zdir, ["x", "y"], bits=8, num_files=16)
    save_parquet_sorted(grid, sdir, ["x"], num_files=16)

    def ranges(d, col):
        out = []
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                c = next(
                    md.row_group(g).column(i)
                    for i in range(md.row_group(g).num_columns)
                    if md.row_group(g).column(i).path_in_schema == col
                )
                out.append((c.statistics.min, c.statistics.max))
        return out

    def hit_frac(rs, lo, hi):
        return sum(1 for mn, mx in rs if mx >= lo and mn <= hi) / len(rs)

    # narrow windows: 10% of each domain (x in [0,19] of 200; y in [0,19])
    zx, zy = ranges(zdir, "x"), ranges(zdir, "y")
    assert len(zx) >= 16
    assert hit_frac(zx, 0, 19) <= 0.5   # both dims prune under z-order
    assert hit_frac(zy, 0, 19) <= 0.5
    sx, sy = ranges(sdir, "x"), ranges(sdir, "y")
    assert hit_frac(sx, 0, 19) <= 0.25  # sorted dim prunes hard...
    assert hit_frac(sy, 0, 19) == 1.0   # ...the other dim cannot prune at all

    # rows intact
    assert (
        spark.read.parquet(zdir).filter("x < 20").count()
        == grid.filter("x < 20").count()
    )


def test_compact_with_sort_restores_clustering(spark, tmp_path):
    """compact(sort_by=...) is the OPTIMIZE-style maintenance pass: the
    rewrite both collapses the file count and restores range locality a
    fragmented append workload destroyed."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from phaser_spark.io import compact_parquet_output

    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).select(F.col("id").alias("v")).orderBy(F.xxhash64("id"))
    df.repartition(16).write.parquet(path)  # fragmented, unclustered

    stats = compact_parquet_output(
        spark, path, target_file_bytes=64 * 1024, sort_by=["v"]
    )
    assert stats["rows"] == 20000 and stats["files_after"] >= 2

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            c = next(
                md.row_group(g).column(i)
                for i in range(md.row_group(g).num_columns)
                if md.row_group(g).column(i).path_in_schema == "v"
            )
            ranges.append((c.statistics.min, c.statistics.max))
    hits = sum(1 for mn, mx in ranges if mx >= 0 and mn <= 1999)  # 10% window
    assert hits <= max(1, len(ranges) // 3)
    assert spark.read.parquet(path).count() == 20000


def test_compact_sort_and_zorder_mutually_exclusive(spark, tmp_path):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.io import compact_parquet_output

    path = str(tmp_path / "t")
    spark.range(10).write.parquet(path)
    with pytest.raises(PhaserError):
        compact_parquet_output(spark, path, sort_by=["id"], zorder_by=["id"])


def test_zorder_key_rejects_strings_and_accepts_timestamps(spark, tmp_path):
    from pyspark.sql import functions as F

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.io import save_parquet_zordered, zorder_key

    df = spark.createDataFrame([(1, "a")], "x long, s string")
    with pytest.raises(PhaserError, match="non-numeric"):
        zorder_key(df, ["s"])

    ts = spark.range(0, 200).select(
        F.col("id").alias("v"),
        F.timestamp_seconds(F.col("id") * 3600).cast("timestamp_ntz").alias("t"),
    )
    out = str(tmp_path / "znt")
    save_parquet_zordered(ts, out, ["v", "t"], bits=6, num_files=4)
    assert spark.read.parquet(out).count() == 200


@pytest.mark.parametrize("fmt", ["csv", "json", "jsonl"])
def test_user_file_in_ingest_order_in_one_job(spark, tmp_path, monkeypatch, fmt):
    # a multi-partition source shuffled by a batch step leaves the phase
    # checkpoint out of row-number order; the single-file sink orders it
    # inside its one write task
    import json

    from phaser_spark import Phase, Pipeline, batch_step
    from phaser_spark import pipeline as pipeline_mod

    @batch_step
    def shuffle(df):
        return df.repartition(5)

    sc = spark.sparkContext
    save_jobs = {}
    real_save_any = pipeline_mod.save_any

    def counted_save_any(df, filename, *args, **kwargs):
        group = f"user-file-{fmt}-{len(save_jobs)}"
        sc.setJobGroup(group, "user file save")
        try:
            real_save_any(df, filename, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        save_jobs[os.path.basename(filename)] = len(
            sc.statusTracker().getJobIdsForGroup(group)
        )

    monkeypatch.setattr(pipeline_mod, "save_any", counted_save_any)
    source = spark.range(0, 240, 1, 6).select(
        "id", F.concat(F.lit("v"), F.col("id").cast("string")).alias("v")
    )
    pipe = Pipeline(
        working_dir=str(tmp_path), phases=[Phase(name="P", steps=[shuffle])], spark=spark
    )
    pipe.save_format = fmt
    pipe.run(source)

    path = os.path.join(str(tmp_path), f"P_output.{fmt}")
    if fmt == "csv":
        lines = open(path).read().splitlines()
        assert lines[0].split(",") == [PHASER_ROW_NUM, "id", "v"]
        rows = [ln.split(",") for ln in lines[1:]]
        assert rows == [[str(i + 1), str(i), f"v{i}"] for i in range(240)]
    else:
        text = open(path).read()
        recs = json.loads(text) if fmt == "json" else [
            json.loads(ln) for ln in text.splitlines() if ln.strip()
        ]
        assert recs == [
            {"id": i, "v": f"v{i}", PHASER_ROW_NUM: i + 1} for i in range(240)
        ]
    assert save_jobs[f"P_output.{fmt}"] == 1
