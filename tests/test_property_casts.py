"""Property-based cast parity (hypothesis): the column engine's casts must
match the reference's Python semantics (int via Decimal, float via Decimal,
boolean word lists — phaser/column.py:280-294,187-222) on arbitrary inputs."""
from decimal import Decimal, InvalidOperation

import pytest
from hypothesis import given, settings, strategies as st

from phaser_spark import BooleanColumn, FloatColumn, IntColumn, Phase
from phaser_spark.context import Context

NUMERIC_STR = st.one_of(
    st.integers(-10**15, 10**15).map(str),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda f: repr(f)),
    st.sampled_from(["", "  ", "NULL", "None", "5.0", "-0", "00042", " 7 ", "1e3", "xyz"]),
)


def ref_int(s):
    try:
        v = s.strip()
        if v in ("", "NULL", "None"):
            return None
        n = int(Decimal(v))
        # documented divergence: the reference returns Python bigints, the
        # engine's LongType is 64-bit — out-of-range values ERROR (safer
        # than silent wraparound; see IntColumn docstring)
        if not (-(2**63) <= n < 2**63):
            return "ERR"
        return n
    except (InvalidOperation, ValueError, OverflowError):
        return "ERR"


def ref_float(s):
    try:
        v = s.strip()
        if v in ("", "NULL", "None"):
            return None
        return float(Decimal(v))
    except (InvalidOperation, ValueError, OverflowError):
        return "ERR"


@settings(max_examples=6, deadline=None)
@given(st.lists(NUMERIC_STR, min_size=1, max_size=40))
def test_int_and_float_cast_parity(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    ph = Phase(
        name="p",
        columns=[IntColumn("s", rename=[])],
        context=Context(spark=spark),
    )
    from phaser_spark.constants import ERROR_COL

    out = {r.i: (r.s, r[ERROR_COL]) for r in ph.run(df.withColumn("s2", df.s)).collect()}
    for i, v in enumerate(values):
        expect = ref_int(v)
        got, err = out[i]
        if expect == "ERR":
            assert err is not None, f"{v!r} should error, got {got!r}"
        else:
            assert err is None and got == expect, f"{v!r}: want {expect!r} got {got!r} err={err}"


@settings(max_examples=4, deadline=None)
@given(st.lists(st.sampled_from(
    ["t", "TRUE", "Yes", "y", "1", "f", "False", "NO", "n", "0", "maybe", "", "NULL"]
), min_size=1, max_size=20))
def test_boolean_cast_parity(spark, values):
    TRUE, FALSE = {"t", "true", "1", "yes", "y"}, {"f", "false", "0", "no", "n"}
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    ph = Phase(
        name="p",
        columns=[BooleanColumn("s")],
        context=Context(spark=spark),
    )
    from phaser_spark.constants import ERROR_COL

    out = {r.i: (r.s, r[ERROR_COL]) for r in ph.run(df).collect()}
    for i, v in enumerate(values):
        got, err = out[i]
        low = v.strip().lower()
        if low in ("", "null", "none"):
            assert got is None and err is None, f"{v!r}"
        elif low in TRUE:
            assert got is True and err is None, f"{v!r}"
        elif low in FALSE:
            assert got is False and err is None, f"{v!r}"
        else:
            assert err is not None, f"{v!r} should error"


import datetime as _dt

# documented divergence (DateColumn docstring): for pre-1000 years %Y does
# not zero-pad, and Python's strptime GREEDILY re-interprets the 7-digit
# result ("9990101" -> 9990-10-01) where Spark's fixed-width pattern
# correctly rejects it — so non-ISO formats fuzz 4-digit years only
_DATES_4DIGIT = st.dates(min_value=_dt.date(1000, 1, 1))

DATE_STR = st.one_of(
    st.dates().map(lambda d: d.isoformat()),
    _DATES_4DIGIT.map(lambda d: d.strftime("%Y/%m/%d")),
    _DATES_4DIGIT.map(lambda d: d.strftime("%Y%m%d")),
    st.sampled_from(["", "NULL", "not-a-date", "2024-13-01", "2024/02/30", "99999999"]),
)


@settings(max_examples=5, deadline=None)
@given(st.lists(DATE_STR, min_size=1, max_size=30))
def test_date_cast_parity(spark, values):
    import datetime

    from phaser_spark import DateColumn
    from phaser_spark.constants import ERROR_COL

    def ref(s):
        v = s.strip()
        if v in ("", "NULL", "None"):
            return None
        for parse in (
            datetime.date.fromisoformat,
            lambda x: datetime.datetime.strptime(x, "%Y/%m/%d").date(),
            lambda x: datetime.datetime.strptime(x, "%Y%m%d").date(),
        ):
            try:
                return parse(v)
            except ValueError:
                continue
        return "ERR"

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i long, s string")
    ph = Phase(name="p", columns=[DateColumn("s")], context=Context(spark=spark))
    out = {r.i: (r.s, r[ERROR_COL]) for r in ph.run(df).collect()}
    for i, v in enumerate(values):
        expect = ref(v)
        got, err = out[i]
        if expect == "ERR":
            assert err is not None, f"{v!r} should error, got {got!r}"
        else:
            assert err is None and got == expect, f"{v!r}: want {expect} got {got} err={err}"


# --------------------------------------------------------------------------
# range_join property: the bin-bucketed equi-join must equal the naive
# quadratic join for ANY interval configuration and ANY bin width
# --------------------------------------------------------------------------

FINITE = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
)


# equivalence replay, multi-minute family: oracle tier (pytest.ini)
@pytest.mark.oracle
@settings(max_examples=8, deadline=None)
@given(
    st.lists(FINITE, min_size=1, max_size=15),
    st.lists(st.tuples(FINITE, st.floats(min_value=0, max_value=1e4,
                                         allow_nan=False)), min_size=1, max_size=12),
    st.sampled_from([0.7, 13.0, 1000.0]),
)
def test_range_join_equals_naive_on_random_intervals(spark, points, spans, width):
    from pyspark.sql import functions as F

    from phaser_spark.ops.relational import range_join

    pts = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], "pid long, p double"
    )
    ivs = spark.createDataFrame(
        [(i, float(s), float(s) + float(w)) for i, (s, w) in enumerate(spans)],
        "iid long, s double, e double",
    )
    naive = {
        (r.pid, r.iid)
        for r in pts.crossJoin(ivs)
        .filter((F.col("p") >= F.col("s")) & (F.col("p") < F.col("e")))
        .collect()
    }
    got = {
        (r.pid, r.iid)
        for r in range_join(pts, ivs, "p", "s", "e", bin_width=width)
        .select("pid", "iid")
        .collect()
    }
    assert got == naive


# --------------------------------------------------------------------------
# multilevel_agg property: rollup == union of per-level groupBys, with
# NULL group values present (the grouping_id disambiguation must hold)
# --------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.sampled_from(["x", "y", None]),
            st.integers(-100, 100),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_rollup_equals_union_of_groupbys_on_random_data(spark, rows):
    from pyspark.sql import functions as F

    from phaser_spark.ops.relational import multilevel_agg

    df = spark.createDataFrame(rows, "c1 string, c2 string, n int")
    got = {
        tuple(r)
        for r in multilevel_agg(
            df, ["c1", "c2"], [F.sum("n").alias("s")], kind="rollup"
        ).collect()
    }
    agg = lambda *cols: df.groupBy(*cols).agg(F.sum("n").alias("s")).collect()  # noqa: E731
    expect = {(r.c1, r.c2, 0, r.s) for r in agg("c1", "c2")}
    expect |= {(r.c1, None, 1, r.s) for r in agg("c1")}
    expect |= {(None, None, 3, r.s) for r in df.agg(F.sum("n").alias("s")).collect()}
    assert got == expect


# --------------------------------------------------------------------------
# salted_join property: identical to the plain join under any skew shape
# --------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 5), st.integers(0, 1000)),
             min_size=1, max_size=40),
    st.lists(st.integers(0, 7), min_size=1, max_size=8, unique=True),
    st.sampled_from(["inner", "left"]),
)
def test_salted_join_equals_plain_join_on_random_skew(spark, big_rows, small_keys, how):
    from phaser_spark.ops.relational import salted_join

    big = spark.createDataFrame(big_rows, "k long, v long")
    small = spark.createDataFrame([(k, f"s{k}") for k in small_keys], "k long, name string")
    expect = sorted(
        (r.k, r.v, r.name) for r in big.join(small, ["k"], how).collect()
    )
    got = sorted(
        (r.k, r.v, r.name)
        for r in salted_join(big, small, ["k"], n_salts=4, how=how).collect()
    )
    assert got == expect


# --- bloom join equivalence on arbitrary keys ---------------------------

KEY = st.one_of(
    st.integers(-(2**62), 2**62),
    st.text(min_size=0, max_size=12),
)


# equivalence replay, multi-minute family: oracle tier (pytest.ini)
@pytest.mark.oracle
@settings(max_examples=5, deadline=None)
@given(
    big=st.lists(KEY, min_size=1, max_size=60),
    keys=st.lists(KEY, min_size=0, max_size=25),
)
def test_bloom_joins_equal_plain_joins(spark, big, keys):
    """bloom_semi_join / bloom_anti_join must be EXACTLY the plain
    semi/anti join for any mix of int and string keys (keys are
    stringified to keep one column type; collisions/dups welcome)."""
    from phaser_spark.ops import bloom

    big_df = spark.createDataFrame([(str(k), i) for i, k in enumerate(big)],
                                   "k string, idx long")
    keys_df = spark.createDataFrame(
        [(str(k),) for k in keys] or [("never-present-sentinel",)], "k string"
    )
    semi = sorted(
        (r.k, r.idx)
        for r in bloom.bloom_semi_join(big_df, keys_df, "k", fpp=0.05).collect()
    )
    want_semi = sorted(
        (r.k, r.idx) for r in big_df.join(keys_df, "k", "left_semi").collect()
    )
    assert semi == want_semi
    anti = sorted(
        (r.k, r.idx)
        for r in bloom.bloom_anti_join(big_df, keys_df, "k", fpp=0.05).collect()
    )
    want_anti = sorted(
        (r.k, r.idx) for r in big_df.join(keys_df, "k", "left_anti").collect()
    )
    assert anti == want_anti


# --- token-budget selection equals the single-order naive form -----------


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 500),          # doc key (dups collapse below)
            st.integers(1, 200),          # length
            st.sampled_from(["en", "fr", None]),
        ),
        min_size=1,
        max_size=80,
    ),
    b_en=st.integers(0, 3000),
    b_fr=st.one_of(st.none(), st.integers(0, 3000)),
    default=st.one_of(st.none(), st.integers(0, 3000)),
    buckets=st.sampled_from([1, 4, 16]),
)
def test_token_budget_select_property(spark, docs, b_en, b_fr, default, buckets):
    """For ANY corpus, budgets, and bucket count, the two-level bucketed
    selection must keep EXACTLY the docs the naive single-window rule
    keeps: order each group by (md5-bucket, md5(key), key), keep while
    the exclusive running total is below the group's budget.  NULL group
    is a real group served by default_budget."""
    import hashlib

    from phaser_spark.ops.sampling import token_budget_select

    rows = {k: (n, g) for k, n, g in docs}  # unique keys
    data = [(f"k{k}", n, g) for k, (n, g) in rows.items()]
    budgets = {"en": b_en}
    if b_fr is not None:
        budgets["fr"] = b_fr
    df = spark.createDataFrame(data, "doc_id string, n long, lang string")
    got = {
        r.doc_id
        for r in token_budget_select(
            df, "doc_id", "n", "lang", budgets, default_budget=default,
            buckets=buckets,
        ).collect()
    }

    def bkt(k):
        return int(hashlib.md5(k.encode()).hexdigest()[:8], 16) % buckets

    def h(k):
        return hashlib.md5(k.encode()).hexdigest()

    by_group = {}
    for k, n, g in data:
        by_group.setdefault(g, []).append((k, n))
    want = set()
    for g, ds in by_group.items():
        bud = budgets.get(g, default) if g is not None else default
        if bud is None:
            continue
        run = 0
        for k, n in sorted(ds, key=lambda d: (bkt(d[0]), h(d[0]), d[0])):
            if run < bud:
                want.add(k)
            run += n
    assert got == want


# --- fuzzy join equals all-pairs Levenshtein -----------------------------


# equivalence replay, multi-minute family: oracle tier (pytest.ini)
@pytest.mark.oracle
@settings(max_examples=5, deadline=None)
@given(
    ws=st.lists(st.text(alphabet="abcx", min_size=0, max_size=14), min_size=1,
                max_size=25, unique=True),
    d=st.sampled_from([0, 1, 2]),
)
def test_fuzzy_join_property(spark, ws, d):
    """For ANY string set and max_dist, blocked fuzzy_join == all-pairs
    Levenshtein filter (soundness and exactness of the two-path
    blocking, including empty strings and cross-length pairs)."""
    import itertools

    from phaser_spark.ops import relational

    left = spark.createDataFrame([(i, w) for i, w in enumerate(ws)],
                                 "lid long, lval string")
    right = spark.createDataFrame([(50 + i, w) for i, w in enumerate(ws)],
                                  "rid long, rval string")
    out = relational.fuzzy_join(left, right, "lid", "lval", "rid", "rval",
                                max_dist=d)
    got = {(r.lid, r.rid): r.edit_distance for r in out.collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, 50 + j): lev(a, b)
        for (i, a), (j, b) in itertools.product(enumerate(ws), repeat=2)
        if lev(a, b) <= d
    }
    assert got == want


# --- behavioral / interval ops vs brute-force references -----------------


@settings(max_examples=5, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 50), st.sampled_from("abcx")),
        min_size=1, max_size=60,
    ),
)
def test_funnel_property(spark, events):
    """funnel == the greedy sequential matcher on ANY event set,
    including duplicate timestamps (strict-> progression) and users with
    no funnel events (absent from the output)."""
    import datetime as dt

    from phaser_spark.ops import behavior

    steps = ["a", "b", "c"]
    rows = [
        (u, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), t)
        for u, m, t in events
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, t string")
    got = {
        r.u: r.stages_completed
        for r in behavior.funnel(df, "u", "ts", "t", steps).collect()
    }
    want = {}
    by_user = {}
    for u, ts, t in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        if t in steps:
            by_user.setdefault(u, []).append((ts, t))
    for u, evs in by_user.items():
        stage, last = 0, None
        for ts, t in evs:  # sorted by (ts, type) = the engine's array_sort order
            if stage < 3 and t == steps[stage] and (last is None or ts > last):
                stage, last = stage + 1, ts
        want[u] = stage
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 40), st.integers(0, 15)),
        min_size=1, max_size=40,
    ),
)
def test_merge_intervals_property(spark, ivs):
    """merge_intervals == brute-force union-of-intervals per key for ANY
    interval set (overlaps, nesting, touching, duplicates)."""
    from phaser_spark.ops import relational

    rows = [(k, s, s + ln) for k, s, ln in ivs]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = {
        (r.k, r.s, r.e): r.n_merged
        for r in relational.merge_intervals(df, "k", "s", "e").collect()
    }
    want = {}
    by_key = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    for k, lst in by_key.items():
        lst.sort()
        cur_s, cur_e, n = lst[0][0], lst[0][1], 1
        for s, e in lst[1:]:
            if s > cur_e:
                want[(k, cur_s, cur_e)] = n
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e, n = max(cur_e, e), n + 1
        want[(k, cur_s, cur_e)] = n
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(1, 9)),
        min_size=1, max_size=50,
    ),
)
def test_resample_time_property(spark, pts):
    """resample_time == brute-force bucketing + full grid between each
    key's min and max bucket, zeros in the gaps."""
    import datetime as dt

    from pyspark.sql import functions as F

    from phaser_spark.ops import timeseries

    rows = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), float(v))
        for k, m, v in pts
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = timeseries.resample_time(
        df, "ts", "10 minutes", "k", aggs={"n": F.count(F.lit(1))}, fill="zero"
    )
    got = {(r.k, int(r.bucket_ts.timestamp())): r.n for r in out.collect()}
    base = int(dt.datetime(2024, 1, 1).timestamp())
    want = {}
    by_key = {}
    for k, m, v in pts:
        b = base + (m // 10) * 600
        by_key.setdefault(k, {}).setdefault(b, 0)
        by_key[k][b] += 1
    for k, buckets in by_key.items():
        lo, hi = min(buckets), max(buckets)
        for b in range(lo, hi + 600, 600):
            want[(k, b)] = buckets.get(b, 0)
    assert got == want


# --- SCD2 chains vs a Python reference -----------------------------------


@settings(max_examples=5, deadline=None)
@given(
    ups=st.lists(
        st.tuples(st.integers(1, 3), st.integers(1, 20), st.sampled_from("xyz")),
        min_size=1, max_size=30,
    ),
)
def test_scd2_apply_property(spark, ups):
    """scd2_apply(None, batch) == the sequential per-key version chain
    for ANY batch: (ts, attrs)-ordered, consecutive-duplicate-suppressed,
    exactly one open version per key."""
    import datetime as dt

    from phaser_spark.ops import scd

    rows = [
        (k, v, dt.datetime(2024, 1, 1) + dt.timedelta(days=d))
        for k, d, v in ups
    ]
    # unique (key, ts, value) triples: the engine's tie-break sorts equal
    # (ts, origin) rows by attrs, so duplicate triples are the only
    # ambiguity-free duplicates — drop them like a keyed CDC feed would
    rows = list({(k, v, ts): None for k, v, ts in rows})
    df = spark.createDataFrame(rows, "id long, name string, ts timestamp")
    got = {
        (r.id, r.name, r.valid_from): (r.valid_to, r.is_current)
        for r in scd.scd2_apply(None, df, "id", ["name"], "ts").collect()
    }
    want = {}
    by_key = {}
    for k, v, ts in sorted(rows, key=lambda r: (r[0], r[2], r[1])):
        by_key.setdefault(k, []).append((ts, v))
    for k, chain in by_key.items():
        dedup = []
        for ts, v in chain:
            if not dedup or dedup[-1][1] != v:
                dedup.append((ts, v))
        for i, (ts, v) in enumerate(dedup):
            nxt = dedup[i + 1][0] if i + 1 < len(dedup) else None
            want[(k, v, ts)] = (nxt, nxt is None)
    assert got == want
    # invariant: exactly one open version per key
    opens = [k for (k, _, _), (vt, cur) in got.items() if cur]
    assert sorted(opens) == sorted(set(opens)) and set(opens) == set(by_key)


# equivalence replay vs a Python reference: oracle tier (pytest.ini)
@pytest.mark.oracle
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=60,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_char_entropy_matches_python(spark, texts):
    import math
    from collections import Counter

    from phaser_spark.ops.text import char_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.char_entropy for r in char_entropy(df).collect()}
    for i, t in enumerate(texts):
        if not t:
            assert got[i] is None
        else:
            c = Counter(t)
            n = len(t)
            ent = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
            # decimal-vs-float accumulation may step the 6-digit
            # truncation boundary by one ulp-sized unit
            assert got[i] == pytest.approx(math.floor(ent * 1e6) / 1e6, abs=2e-6)


@pytest.mark.oracle
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "w1", "w2"]),
                 max_size=40),
        min_size=1,
        max_size=8,
    ),
    st.sampled_from([(3, 0), (4, 1), (5, 2), (8, 3)]),
)
def test_chunk_documents_reconstructs_every_doc(spark, docs, cw_ov):
    from phaser_spark.ops.text import chunk_documents

    chunk_words, overlap = cw_ov
    stride = chunk_words - overlap
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    out = chunk_documents(
        df, chunk_words=chunk_words, overlap_words=overlap
    ).collect()
    by_doc = {}
    for r in out:
        assert 1 <= r.n_chunk_words <= chunk_words
        assert r.n_chunk_words == len(r.chunk.split(" "))
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk.split(" ")
    for i, ws in enumerate(docs):
        if not ws:
            assert i not in by_doc  # empty docs emit no chunks
            continue
        chunks = by_doc[i]
        ks = sorted(chunks)
        assert ks == list(range(len(ks)))  # contiguous ids from 0
        # chunk k contributes its first `stride` words; the final chunk
        # contributes everything — concatenation rebuilds the document
        rebuilt = []
        for k in ks[:-1]:
            rebuilt += chunks[k][:stride]
        rebuilt += chunks[ks[-1]]
        assert rebuilt == ws


@pytest.mark.oracle
@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["ax", "by", "cz", "dq"]), max_size=20),
        min_size=2,
        max_size=6,
    ),
    st.sampled_from([2, 3]),
)
def test_remove_repeated_spans_matches_python(spark, docs, n):
    from phaser_spark.ops.cleaning import remove_repeated_spans

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_words_removed)
        for r in remove_repeated_spans(df, n=n, min_doc_freq=2).collect()
    }
    # Python reference: gram -> docs containing it; hot = >=2 distinct
    # docs; covered = union of [p, p+n-1] per hot-gram occurrence
    gram_docs = {}
    for i, ws in enumerate(docs):
        for p in range(len(ws) - n + 1):
            gram_docs.setdefault(tuple(ws[p:p + n]), set()).add(i)
    hot = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    for i, ws in enumerate(docs):
        covered = set()
        for p in range(len(ws) - n + 1):
            if tuple(ws[p:p + n]) in hot:
                covered.update(range(p, p + n))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        assert got[i] == (" ".join(kept), len(covered))


# --- PPS sampling equals the single-order naive rule ----------------------


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 500),                      # key (dups collapse)
            st.one_of(st.none(), st.integers(-5, 400)),  # weight incl. junk
        ),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(1, 40),
    buckets=st.sampled_from([1, 4, 16]),
)
def test_pps_sample_property(spark, docs, k, buckets):
    """For ANY weights (including NULL/zero/negative junk), k, and bucket
    count, the two-level PPS selection must keep EXACTLY the rows the
    naive single-order rule keeps: sort by (md5-bucket, md5(key), key),
    exact cumulative weights, keep rows whose (lo, hi] interval crosses
    an i*W/k threshold under the identical double floor test — and never
    return more than k rows."""
    import hashlib
    import math

    from phaser_spark.ops.sampling import pps_sample

    rows = list({d: w for d, w in docs}.items())  # unique keys (API contract)
    df = spark.createDataFrame(
        [(f"k{key}", w) for key, w in rows], "doc_id string, w long"
    )
    got = {r.doc_id for r in pps_sample(df, "doc_id", "w", k=k, buckets=buckets).collect()}

    def bkt(x):
        return int(hashlib.md5(x.encode()).hexdigest()[:8], 16) % buckets

    usable = [(f"k{key}", w) for key, w in rows if w is not None and w > 0]
    if not usable:
        assert got == set()
        return
    total = float(sum(w for _, w in usable))
    want, run = set(), 0
    for key, w in sorted(usable, key=lambda r: (bkt(r[0]), hashlib.md5(r[0].encode()).hexdigest(), r[0])):
        lo, hi = run, run + w
        if math.floor(float(hi) * float(k) / total) > math.floor(
            float(lo) * float(k) / total
        ):
            want.add(key)
        run = hi
    assert got == want
    assert len(got) <= k


# --- PageRank equals the driver-side reference on random graphs -----------


@settings(max_examples=4, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=40,
    ),
    damping=st.sampled_from([0.5, 0.85]),
    iters=st.integers(1, 5),
)
def test_pagerank_property(spark, edges, damping, iters):
    """For ANY directed graph (self-loops, parallel edges, dangling
    sinks, disconnected vertices), the distributed scores must match a
    pure-Python replay of the same recurrence to well under the 12-digit
    truncation, and total mass must stay 1."""
    from tests.test_ops import _reference_pagerank

    from phaser_spark.ops.graph import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.pagerank for r in pagerank(e, damping=damping, n_iters=iters).collect()}
    want = _reference_pagerank(set(edges), damping, iters)
    assert set(got) == set(want)
    for v, p in want.items():
        assert abs(got[v] - p) < 1e-9, (v, got[v], p)
    assert abs(sum(got.values()) - 1.0) < 1e-6


# --- split invariants on arbitrary keys ------------------------------------


@settings(max_examples=5, deadline=None)
@given(
    keys=st.lists(
        st.one_of(st.text(min_size=0, max_size=12), st.none()),
        min_size=1,
        max_size=30,
    ),
    fracs=st.sampled_from(
        [{"train": 0.8, "val": 0.2}, {"a": 0.5, "b": 0.3, "c": 0.2}]
    ),
)
def test_split_by_hash_property(spark, keys, fracs):
    """For ANY key set (unicode, empty strings, NULLs, duplicates):
    every non-null key gets exactly one split matching the pure-Python
    md5 replay, duplicates agree, NULL keys get NULL."""
    import hashlib

    from phaser_spark.ops import sampling

    df = spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "i long, k string")
    out = {r.i: r.split for r in sampling.split_by_hash(df, "k", fracs).collect()}

    def replay(k):
        b = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 10000
        lo = 0.0
        for name, frac in fracs.items():
            hi = lo + frac
            if round(lo * 10000) <= b < round(hi * 10000):
                return name
            lo = hi
        return list(fracs)[-1]

    for i, k in enumerate(keys):
        if k is None:
            assert out[i] is None
        else:
            assert out[i] == replay(k), (k, out[i])


@settings(max_examples=5, deadline=None)
@given(
    labels=st.lists(
        st.one_of(st.integers(0, 6), st.none()), min_size=1, max_size=40
    )
)
def test_component_size_stats_property(spark, labels):
    """For ANY labeling (including NULLs): total row mass is conserved,
    labeled mass equals size·clusters per bucket, shares sum to 1, and
    the NULL bucket reports zero clusters."""
    from phaser_spark.ops.graph import component_size_stats

    df = spark.createDataFrame(
        [(i, str(l) if l is not None else None) for i, l in enumerate(labels)],
        "id long, component string",
    )
    rows = component_size_stats(df).collect()
    assert sum(r.n_rows for r in rows) == len(labels)
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-9
    for r in rows:
        if r.size is None:
            assert r.n_clusters == 0
            assert r.n_rows == sum(1 for l in labels if l is None)
        else:
            assert r.n_rows == r.size * r.n_clusters


# --- incremental leakage split equals the union-find replay ----------------


@settings(max_examples=4, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(1, 25), st.integers(1, 25)),
        min_size=0,
        max_size=30,
    ),
    prior_ids=st.sets(st.integers(1, 30), max_size=8),
)
def test_leakage_split_incremental_property(spark, edges, prior_ids):
    """For ANY pair graph and ANY prior-assignment subset: every cluster
    is split-uniform; a cluster containing prior ids takes the min
    prior id's split; prior-free clusters match the from-scratch md5
    rule on the component representative."""
    import hashlib

    from phaser_spark.ops import sampling

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    n_docs = 30
    docs = spark.createDataFrame([(i,) for i in range(1, n_docs + 1)], "doc_id long")

    def md5_split(key):
        b = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % 10000
        return "train" if b < 8000 else ("val" if b < 9000 else "test")

    prior_rows = [(i, md5_split(i * 7919)) for i in sorted(prior_ids)]
    prior = spark.createDataFrame(
        prior_rows or [(None, None)], "doc_id long, split string"
    ).filter("doc_id is not null")
    pairs = spark.createDataFrame(
        edges or [(None, None)], "id_a long, id_b long"
    ).filter("id_a is not null")
    out = {
        r.doc_id: r
        for r in sampling.leakage_safe_split_incremental(
            docs, "doc_id", fr, pairs, prior
        ).collect()
    }
    assert set(out) == set(range(1, n_docs + 1))

    # union-find replay over vertices = docs + prior ids + edge endpoints
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    verts = set(range(1, n_docs + 1)) | set(prior_ids)
    for a, b in edges:
        verts |= {a, b}
    for v in verts:
        parent[v] = v
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for v in verts:
        clusters.setdefault(find(v), set()).add(v)
    prior_split = dict(prior_rows)
    for rep, members in clusters.items():
        with_prior = sorted(m for m in members if m in prior_split)
        want = (
            prior_split[with_prior[0]] if with_prior else md5_split(min(members))
        )
        for m in members:
            if m in out:
                assert out[m].split == want, (m, members, out[m].split, want)
                assert out[m].split_group == min(members)
                assert out[m].split_source == (
                    "prior" if with_prior else "hash"
                )


# --- contamination report equals the pure-Python shingle replay -------------


def _py_shingles(text, n):
    import re

    nt = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", text.lower())).strip()
    w = nt.split(" ")
    if len(w) < n:
        return set()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.text(alphabet="abcd efg", min_size=0, max_size=60),
        min_size=1,
        max_size=12,
    ),
    bench_idx=st.sets(st.integers(0, 11), max_size=4),
    n=st.sampled_from([2, 3]),
    min_overlap=st.integers(1, 3),
)
def test_contamination_report_property(spark, docs, bench_idx, n, min_overlap):
    """For ANY corpus/benchmark pair (short docs below the shingle width,
    empty strings, duplicate shingles): counts match a pure-Python
    replay of the distinct-n-gram overlap rule."""
    from phaser_spark.ops import cleaning

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    bench_texts = [docs[i] for i in bench_idx if i < len(docs)]
    bench = spark.createDataFrame(
        [(t,) for t in bench_texts] or [(None,)], "text string"
    ).filter("text is not null")
    got = {
        r.benchmark: r
        for r in cleaning.contamination_report(
            df, {"b": bench}, n=n, min_overlap=min_overlap
        ).collect()
    }
    bench_sh = set()
    for t in bench_texts:
        bench_sh |= _py_shingles(t, n)
    want = sum(
        1
        for t in docs
        if len(_py_shingles(t, n) & bench_sh) >= min_overlap
    )
    assert got["b"].n_contaminated == want
    assert got["b"].n_docs == len(docs)
    assert abs(got["b"].contamination_rate - want / max(len(docs), 1)) < 1e-12
