"""Tests for the beyond-reference operators (ops/)."""
import pytest
from pyspark.sql import functions as F

from phaser_spark.ops import dedup, multimodal, relational, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [1.0, 0.05, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_exact_dedup_keeps_first(spark, docs):
    out = dedup.exact_dedup(docs, ["text"], keep="first", order_col="doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 4 not in ids and len(ids) == 4


def test_ngram_jaccard_finds_near_dups(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 4) in got and got[(1, 4)] == 1.0
    assert (1, 2) in got and 0.5 < got[(1, 2)] < 1.0
    assert not any(3 in p for p in got)


def test_minhash_lsh_matches_exact_at_high_threshold(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh == exact


def test_minhash_dedup_removes_cluster(spark, docs):
    out = dedup.minhash_dedup(docs, threshold=0.8)
    ids = {r["doc_id"] for r in out.collect()}
    # 1 and 4 are identical; the min id (1) survives
    assert 1 in ids and 4 not in ids


def test_ngram_jaccard_hot_shingle_guard(spark):
    # one shingle shared by all 30 docs: unguarded, it alone fans out to
    # C(30,2)=435 candidate pairs (the quadratic hot-key blow-up); with
    # max_shingle_df below its document frequency the shingle is dropped
    # and no pairs survive — the guard bounds per-shingle cost at d²≤cap²
    rows = [
        (i, "the quick brown fox " + f"tail{i} alpha{i} beta{i} gamma{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    unguarded = dedup.ngram_jaccard_pairs(
        df, threshold=0.01, max_shingle_df=None
    ).count()
    assert unguarded == 435  # every pair met through the hot shingles
    guarded = dedup.ngram_jaccard_pairs(df, threshold=0.01, max_shingle_df=5).count()
    assert guarded == 0


def test_ngram_jaccard_cache_index_gate(spark, docs):
    # the recompute default (the 100-TB path: never pin the corpus-sized
    # shingle index) must be result-identical to an explicit persist
    expected = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, cache_index=True).collect()
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    )
    assert got == expected


def test_minhash_dedup_converges_on_long_chain(spark):
    # A 5-doc near-dup chain laid out so the min id (0) sits 4 hops from
    # id 1: a fixed-round propagation (< 4 rounds) leaves node 1 believing
    # it is its own cluster root (a false keeper); fixpoint iteration must
    # collapse the whole chain to the single keeper 0.
    # Texts: 38-word windows sliding by 3 words — adjacent jaccard ≈ 0.846
    # (kept at threshold 0.8), distance-2 ≈ 0.714 (dropped), so the edge
    # set is exactly the chain.
    words = [f"tok{i:03d}" for i in range(60)]
    chain_ids = [1, 2, 3, 4, 0]
    rows = [
        (doc_id, " ".join(words[pos * 3: pos * 3 + 38]))
        for pos, doc_id in enumerate(chain_ids)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.minhash_dedup(df, "doc_id", "text", threshold=0.8)
    assert {r["doc_id"] for r in out.collect()} == {0}


def test_simhash_exact_dups_have_zero_hamming(spark, docs):
    pairs = dedup.simhash_pairs(docs.filter(F.col("text") != ""), max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 4)) == 0


def test_embedding_dup_pairs(spark, vecs):
    pairs = dedup.embedding_dup_pairs(vecs, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 5) in got  # nearly identical direction


def test_cosine_topk_ranks_correctly(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    out = similarity.cosine_topk(vecs, q, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [5, 2]


def test_lsh_topk_high_recall_on_tight_cluster(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 1)
    out = similarity.lsh_topk(vecs, q, k=2, planes=6, probe_hamming=3).collect()
    assert any(r["neighbor_id"] in (2, 5) for r in out)


def test_cosine_topk_salted_prefilter_is_lossless(spark):
    """The salted partial top-k (rank inside (query, crc32 bucket), keep
    k per bucket) must keep the EXACT set the plain per-query window
    keeps — on a corpus large enough that every bucket is populated —
    and the row-level plan must carry no window partitioned by the bare
    query_id over unbucketed candidates."""
    import math

    from pyspark.sql import Window

    from phaser_spark.plan import plan_text

    rows = [
        (i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(800)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in similarity.cosine_topk(corpus, q, k=7).collect()
    }
    # naive reference: score everything, one window per query
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    qq = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with("cv", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(col, col, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    scored = (
        c.crossJoin(qq)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.floor(dot / (nrm(F.col("cv")) * nrm(F.col("qv"))) * 1e6) / 1e6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    want = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .collect()
    }
    assert got == want
    plan = plan_text(similarity.cosine_topk(corpus, q, k=7))
    saw_bucketed = False
    for line in plan.splitlines():
        if "windowspecdefinition(query_id" in line and "__tb__" not in line:
            # the final window is fine: its input is already <= 64·k rows
            # (post-prefilter); the prefilter itself must be bucketed
            assert "__brn__" not in line, f"unbucketed prefilter: {line}"
        if "__tb__" in line:
            saw_bucketed = True
    assert saw_bucketed, "salted prefilter missing from plan"


def test_recall_at_k_metric(spark):
    exact = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (2, 20, 0.7, 1), (2, 21, 0.6, 2),
         (3, 30, 0.5, 1)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    # q1 fully recovered, q2 half, q3 missed entirely (no approx rows);
    # an approx-only neighbor (2, 99) must not inflate anything
    approx = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (2, 20, 0.7, 1), (2, 99, 0.1, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in similarity.recall_at_k(exact, approx).collect()
    }
    assert got == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (1, 0, 0.0)}


def test_text_stats_shapes(spark, docs):
    out = text.add_text_stats(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_tokens"] == 9
    assert by_id[5]["n_tokens"] == 0
    assert 0.0 <= by_id[1]["quality"] <= 1.0
    assert by_id[1]["fingerprint"] == by_id[4]["fingerprint"]
    assert by_id[1]["fingerprint"] != by_id[2]["fingerprint"]


def test_lang_id_english_detection(spark):
    rows = [
        (1, "the cat sat on the mat and it was a good day for the cat"),
        (2, "zxcvb qwerty asdfgh poiuyt lkjhgf mnbvcx"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {r["id"]: r["lang"] for r in df.select("id", text.lang_id(F.col("t")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "und"


def test_multimodal_plumbing(spark, docs):
    wrapped = multimodal.attach_binary(docs.filter(F.col("doc_id") == 1), "text")
    # an existing features column is replaced in place, as withColumn does
    wrapped = wrapped.select(F.lit("stale").alias("features"), "*")
    feat = multimodal.decode_and_featurize(wrapped)
    assert feat.columns == wrapped.columns + ["content_sha256"]
    row = feat.collect()[0]
    assert len(row["features"]) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in row["features"])
    import hashlib

    assert row["content_sha256"] == hashlib.sha256(
        "the quick brown fox jumps over the lazy dog".encode()
    ).hexdigest()


def test_multimodal_real_decode_raises(spark, docs):
    wrapped = multimodal.attach_binary(docs.limit(1), "text")
    with pytest.raises(NotImplementedError):
        multimodal.decode_and_featurize(wrapped, real_decode=True)


def _golden_media_blobs():
    """Hand-assembled spec-minimal container files — independent of
    synth_media, so a symmetric encode/decode bug cannot cancel out."""
    import struct
    import zlib

    ihdr = struct.pack(">II5B", 320, 240, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        + struct.pack(">I", 3) + b"IDAT" + b"\x00\x01\x02" + b"\x00\x00\x00\x00"
        + struct.pack(">I", 0) + b"IEND" + b"\xaeB`\x82"
    )
    gif = (
        b"GIF89a" + struct.pack("<HH", 640, 350) + b"\x00\x00\x00" + b"\x3b"
    )
    # JPEG: SOI, APP0(JFIF), COM, SOF0 (h=99, w=77), EOI — SOF is the
    # THIRD segment so extraction must actually walk
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
        + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 99, 77)
        + b"\x03\x01\x11\x00\x02\x11\x00\x03\x11\x00"
        + b"\xff\xd9"
    )
    data = b"\x00" * 88200  # 0.5 s at 44.1 kHz stereo 16-bit
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 44100 * 2 * 2, 4, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    # WEBP extended (VP8X): canvas 800x601 as minus-one LE24 fields
    vp8x_payload = (
        b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
        + (800 - 1).to_bytes(3, "little") + (601 - 1).to_bytes(3, "little")
    )
    webp = b"RIFF" + struct.pack("<I", 4 + len(vp8x_payload)) + b"WEBP" + vp8x_payload
    return png, gif, jpeg, wav, webp


def test_media_sniff_and_dims_on_golden_bytes(spark):
    png, gif, jpeg, wav, webp = _golden_media_blobs()
    rows = [
        (1, png, "image/png"),
        (2, gif, "image/gif"),
        (3, jpeg, "image/jpeg"),
        (4, wav, "audio/x-wav"),
        (5, b"%PDF-1.4\n1 0 obj\nendobj\n%%EOF", "application/pdf"),
        (6, b"\x00\x01", None),
        (7, None, None),
        (8, jpeg[:-2] + b"\x00\x00", "image/jpeg"),  # EOI garbled
        (9, png[:-12], "image/png"),                  # IEND dropped
        (10, png, "image/jpeg"),                      # mislabeled mime
        (11, webp, "image/webp"),
    ]
    df = spark.createDataFrame(rows, "id int, content binary, mime string")
    out = multimodal.sniff_format(df)
    out = multimodal.extract_dimensions(out, format_col="format")
    out = multimodal.detect_corrupt(
        out, format_col="format", declared_mime_col="mime"
    )
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["format"] == "png" and (got[1]["width"], got[1]["height"]) == (320, 240)
    assert got[2]["format"] == "gif" and (got[2]["width"], got[2]["height"]) == (640, 350)
    assert got[3]["format"] == "jpeg" and (got[3]["width"], got[3]["height"]) == (77, 99)
    assert got[4]["format"] == "wav"
    assert (got[4]["sample_rate"], got[4]["channels"]) == (44100, 2)
    assert got[4]["duration_ms"] == 500  # 88200 bytes at 176400 B/s
    assert got[5]["format"] == "pdf"
    assert got[6]["format"] == "unknown" and got[7]["format"] == "unknown"
    assert got[11]["format"] == "webp"
    assert (got[11]["width"], got[11]["height"]) == (800, 601)  # VP8X canvas
    for ok_id in (1, 2, 3, 4, 5, 11):
        assert not got[ok_id]["is_corrupt"], ok_id
    for bad_id in (6, 7, 8, 9, 10):
        assert got[bad_id]["is_corrupt"], bad_id
    # corrupt trailer does not block header-level dimension extraction
    assert (got[8]["width"], got[8]["height"]) == (77, 99)
    # images carry no audio fields and vice versa
    assert got[1]["sample_rate"] is None and got[4]["width"] is None
    assert got[1]["duration_ms"] is None


def test_media_dims_random_sweep_independent_construction(spark):
    """Randomized round-trip with blobs built by plain-Python struct
    packing (independent of synth_media's Catalyst builder): random dims
    across the full u16/u24 field ranges must parse back exactly."""
    import random
    import struct

    rng = random.Random(90)
    rows = []
    for i in range(60):
        w, h = rng.randint(1, 65535), rng.randint(1, 65535)
        kind = i % 4
        if kind == 0:
            ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
            blob = (
                b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
                + b"\x00" * 4 + struct.pack(">I", 0) + b"IEND" + b"\xaeB`\x82"
            )
        elif kind == 1:
            blob = b"GIF87a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"
        elif kind == 2:
            ncom = rng.randint(0, 5)
            blob = b"\xff\xd8"
            for _ in range(ncom):
                pay = b"c" * rng.randint(0, 40)
                blob += b"\xff\xfe" + struct.pack(">H", 2 + len(pay)) + pay
            blob += (
                b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9 + b"\xff\xd9"
            )
        else:
            cw, ch = rng.randint(1, 1 << 24), rng.randint(1, 1 << 24)
            w, h = cw, ch
            pay = (
                b"VP8X" + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
                + (cw - 1).to_bytes(3, "little") + (ch - 1).to_bytes(3, "little")
            )
            blob = b"RIFF" + struct.pack("<I", 4 + len(pay)) + b"WEBP" + pay
        rows.append((i, w, h, blob))
    df = spark.createDataFrame(rows, "id int, w long, h long, content binary")
    out = multimodal.extract_dimensions(
        multimodal.sniff_format(df), format_col="format"
    )
    for r in out.collect():
        assert (r["width"], r["height"]) == (r["w"], r["h"]), r["id"]


def test_jpeg_walk_edge_cases(spark):
    """The bounded SOF walk must return NULL dims (never wrong ones, never
    an error) on adversarial headers: >24 segments before SOF, SOS before
    SOF, truncated mid-segment, zero-length segment, bare SOI."""
    import struct

    def seg(marker, payload=b""):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload

    sof = seg(0xC0, b"\x08" + struct.pack(">HH", 10, 20) + b"\x03" + b"\x00" * 9)
    com = seg(0xFE, b"x")
    soi, eoi = b"\xff\xd8", b"\xff\xd9"
    rows = [
        (1, soi + com * 30 + sof + eoi),     # SOF past the 24-segment bound
        (2, soi + seg(0xDA, b"\x00") + sof + eoi),  # SOS before SOF
        (3, soi + com[:3]),                   # truncated mid-segment
        (4, soi + b"\xff\xc0\x00\x01" + eoi),  # seglen < 2 (malformed)
        (5, soi + eoi),                       # bare SOI+EOI, no SOF
        (6, soi + com * 10 + sof + eoi),      # SOF after 10 COMs: FOUND
        (7, soi + b"\xff\x01" + sof + eoi),   # TEM standalone (no length), then SOF
    ]
    df = spark.createDataFrame(rows, "id int, content binary")
    out = multimodal.extract_dimensions(
        multimodal.sniff_format(df), format_col="format"
    )
    got = {r["id"]: (r["width"], r["height"]) for r in out.collect()}
    for null_id in (1, 2, 3, 4, 5):
        assert got[null_id] == (None, None), null_id
    assert got[6] == (20, 10) and got[7] == (20, 10)


def test_detect_corrupt_mime_aliases_and_riff_padding(spark):
    """Declared-mime checks are alias-set membership, not substring
    containment: `image/jpg` is a valid JPEG label, `audio/wavpack` is
    NOT a valid wav label; RIFF blobs whose size field omits the final
    odd-chunk pad byte (size = n-9) are spec-valid, not corrupt."""
    import struct

    png, gif, jpeg, wav, webp = _golden_media_blobs()
    # wav with an odd final data chunk + pad byte the size field omits:
    # payload 7 bytes, pad to 8 on disk, RIFF size counts only 7
    odd = b"\x00" * 7
    wav_oddpad = (
        b"RIFF" + struct.pack("<I", 36 + len(odd)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", len(odd)) + odd + b"\x00"
    )
    rows = [
        (1, jpeg, "image/jpg"),        # alias: must NOT be corrupt
        (2, jpeg, "image/pjpeg"),      # alias: must NOT be corrupt
        (3, wav, "audio/wavpack"),     # wrong mime: substring trap
        (4, wav_oddpad, "audio/wave"),  # RIFF odd-pad: must NOT be corrupt
        (5, wav_oddpad, None),          # null mime: structural check only
        (6, png, " IMAGE/PNG "),        # case/space-normalized alias
    ]
    df = spark.createDataFrame(rows, "id int, content binary, mime string")
    out = multimodal.detect_corrupt(
        multimodal.sniff_format(df), format_col="format",
        declared_mime_col="mime",
    )
    got = {r["id"]: r["is_corrupt"] for r in out.collect()}
    assert got == {1: False, 2: False, 3: True, 4: False, 5: False, 6: False}


def test_media_synth_roundtrip_and_stats(spark):
    ids = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    blobs = multimodal.synth_media(ids)
    out = multimodal.sniff_format(blobs)
    out = multimodal.extract_dimensions(out, format_col="format")
    out = multimodal.detect_corrupt(
        out, format_col="format", declared_mime_col="mime"
    )
    for r in out.collect():
        i = r["doc_id"]
        want_fmt = ["png", "gif", "jpeg", "wav"][i % 4]
        assert r["format"] == want_fmt, (i, r["format"])
        assert r["is_corrupt"] == (i % 7 == 3), i
        if want_fmt in ("png", "gif", "jpeg"):
            assert r["width"] == 16 + i % 640, i
            assert r["height"] == 16 + i % 480, i
        else:
            sr, ch = 8000 + (i % 5) * 8000, 1 + i % 2
            assert r["sample_rate"] == sr, i
            assert r["channels"] == ch, i
            assert r["duration_ms"] == (8 + i % 8) * 1000 * 1000 // (sr * ch * 2), i
    stats = {
        r["format"]: r
        for r in multimodal.media_size_stats(
            out, format_col="format", corrupt_col="is_corrupt"
        ).collect()
    }
    assert set(stats) == {"png", "gif", "jpeg", "wav"}
    assert stats["gif"]["n_blobs"] == 50
    assert sum(s["n_corrupt"] for s in stats.values()) == len(
        [i for i in range(200) if i % 7 == 3]
    )
    # the whole triage is Catalyst-only: no Python workers in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_relational_topk_step(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9)], ["k", "v"]
    )
    from phaser_spark.lineage import with_row_numbers

    step = relational.topk_per_group_step(["k"], [F.col("v").desc()], k=2)
    out = step(with_row_numbers(df))
    got = sorted((r["k"], r["v"]) for r in out.collect())
    assert got == [("a", 2), ("a", 3), ("b", 9)]


def test_table_diff_classification(spark):
    from phaser_spark.constants import PHASER_ROW_NUM
    from phaser_spark.table_diff import IndexedTableDiffer

    f1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["x", "y"]
    ).withColumn(PHASER_ROW_NUM, F.col("x").cast("long"))
    f2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["x", "y"]
    ).withColumn(
        PHASER_ROW_NUM, F.when(F.col("x") == 4, 4).otherwise(F.col("x")).cast("long")
    )
    d = IndexedTableDiffer(f1, f2)
    counts = d.run()
    assert counts == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}
    html = d.html()
    assert "<table" in html and "added" in html


def test_asof_join_semantics(spark):
    from phaser_spark.ops.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")],
        "k long, ts long, pid string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 101), (1, 15, 102), (2, 6, 103)],
        "k long, ts long, rid long",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_cols=["rid"], right_tiebreak="rid",
    )
    got = {(r.k, r.ts): r.rid for r in out.collect()}
    # equal ts matches; among equal-ts right rows the greatest tiebreak wins
    assert got[(1, 10)] == 101
    # later left row sees the newest prior right row
    assert got[(1, 20)] == 102
    # no right row at-or-before ts=5 -> null
    assert got[(2, 5)] is None


def test_ivf_topk_probe_all_matches_exact(spark, vecs):
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") <= 2), k=3).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in similarity.ivf_topk(
            vecs, vecs.filter(F.col("vec_id") <= 2), k=3, n_centroids=2, n_probe=2
        ).collect()
    }
    assert ivf == exact  # probing every cell = brute force


def test_ivf_topk_partial_probe_finds_cluster_neighbors(spark, vecs):
    got = similarity.ivf_topk(
        vecs, vecs.filter(F.col("vec_id") == 1), k=2, n_centroids=2, n_probe=1
    ).collect()
    ids = {r.neighbor_id for r in got}
    # vectors 2 and 5 sit in vector 1's cluster; one-cell probe must find them
    assert ids == {2, 5}


def test_multimodal_frame_sample_and_resize(spark, docs):
    wrapped = multimodal.attach_binary(docs.filter(F.col("text") != ""), "text", kind="video")
    frames = multimodal.frame_sample(wrapped, every_ms=500)
    rows = frames.select("doc_id", "frame_ts_ms", "frame_id").collect()
    assert len(rows) >= frames.select("doc_id").distinct().count()  # >=1 frame/doc
    assert all(r.frame_ts_ms % 500 == 0 for r in rows)
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r.frame_ts_ms)
    for ts in per_doc.values():
        assert sorted(ts) == list(range(0, len(ts) * 500, 500))  # contiguous grid

    resized = multimodal.resize_stub(wrapped, 320, 240).select("meta.width", "meta.height").first()
    assert (resized.width, resized.height) == (320, 240)

    with pytest.raises(ValueError, match="every_ms"):
        multimodal.frame_sample(wrapped, every_ms=0)


def test_split_by_hash_deterministic_and_stable(spark):
    from phaser_spark.ops import sampling

    df = spark.range(1000).toDF("id")
    s1 = sampling.split_by_hash(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    s2 = sampling.split_by_hash(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    a = dict((r.id, r.split) for r in s1.collect())
    b = dict((r.id, r.split) for r in s2.collect())
    assert a == b  # reproducible
    from collections import Counter

    c = Counter(a.values())
    assert 700 < c["train"] < 900 and 50 < c["val"] < 160 and 50 < c["test"] < 160
    # growing the corpus never reassigns existing rows
    grown = sampling.split_by_hash(
        spark.range(2000).toDF("id"), "id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    g = dict((r.id, r.split) for r in grown.collect())
    assert all(g[k] == v for k, v in a.items())


def test_split_by_hash_rejects_partial_fractions(spark):
    # {'train': 0.5} used to silently label 100% of rows 'train' via the
    # remainder fallthrough — now an error unless the remainder is named
    from collections import Counter

    import pytest as _pytest

    from phaser_spark.ops import sampling

    df = spark.range(1000).toDF("id")
    with _pytest.raises(ValueError, match="sum to 1.0"):
        sampling.split_by_hash(df, "id", {"train": 0.5})
    out = sampling.split_by_hash(df, "id", {"train": 0.5}, remainder="rest")
    c = Counter(r.split for r in out.collect())
    assert 400 < c["train"] < 600 and 400 < c["rest"] < 600


def test_sample_by_hash_fraction(spark):
    from phaser_spark.ops import sampling

    df = spark.range(5000).toDF("id")
    n = sampling.sample_by_hash(df, "id", 0.2).count()
    assert 800 < n < 1200


def test_repetition_signals(spark):
    rows = [
        (1, "aa bb aa bb\ncc dd\ncc dd"),
        (2, "unique words only here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    # doc 3 (empty): every metric 0.0, row preserved by the left join
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top_2gram_char_frac"] == 0.0
    # doc 1 lines: ["aa bb aa bb", "cc dd", "cc dd"] -> 1 of 3 occurrences dup
    assert abs(out[1]["dup_line_frac"] - 1 / 3) < 1e-12
    # char-weighted: 5 dup chars of 11+5+5
    assert abs(out[1]["dup_line_char_frac"] - 5 / 21) < 1e-12
    # 2-grams: "aa bb" and "cc dd" occur twice (10 chars each) of 35 total
    assert abs(out[1]["top_2gram_char_frac"] - 10 / 35) < 1e-12
    # all four 5-grams distinct
    assert out[1]["dup_5gram_char_frac"] == 0.0
    # doc 2: no repetition; top 2-gram is "unique words" (12 of 31 chars)
    assert out[2]["dup_line_frac"] == 0.0
    assert abs(out[2]["top_2gram_char_frac"] - 12 / 31) < 1e-12


def test_redact_pii_counts_and_text(spark):
    from phaser_spark.ops import pii

    df = spark.createDataFrame(
        [
            (
                1,
                "mail a@b.co call (555) 123-4567 ssn 123-45-6789 "
                "ip 10.0.0.1 card 4111-1111-1111-1111",
            ),
            (2, "nothing sensitive here"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r for r in pii.redact_pii(df, "text").collect()}
    r = rows[1]
    assert (r["n_email"], r["n_phone"], r["n_ssn"], r["n_ip"], r["n_card"]) == (
        1, 1, 1, 1, 1,
    )
    red = r["text_redacted"]
    for token in ("<EMAIL>", "<PHONE>", "<SSN>", "<IP>", "<CARD>"):
        assert token in red
    for leaked in ("a@b.co", "123-4567", "123-45-6789", "10.0.0.1", "4111"):
        assert leaked not in red
    r2 = rows[2]
    assert r2["text_redacted"] == "nothing sensitive here"
    assert r2["n_email"] == 0 and r2["n_phone"] == 0


def test_remove_boilerplate_lines(spark):
    from phaser_spark.ops import cleaning

    rows = [(i, f"unique line {i}\nshared footer") for i in range(1, 6)]
    rows.append((6, "shared footer"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cleaning.remove_boilerplate_lines(df, min_doc_freq=5).collect()
    }
    assert out[1]["text"] == "unique line 1" and out[1]["n_lines_removed"] == 1
    # a doc that was ALL boilerplate survives as an empty string
    assert out[6]["text"] == "" and out[6]["n_lines_removed"] == 1
    # below the threshold nothing is dropped
    kept = cleaning.remove_boilerplate_lines(df, min_doc_freq=7).collect()
    assert all(r["n_lines_removed"] == 0 for r in kept)
    # multi-line order is preserved through the rebuild
    df2 = spark.createDataFrame(
        [(1, "first\nsecond\nthird"), (2, "zzz")], "doc_id long, text string"
    )
    r2 = cleaning.remove_boilerplate_lines(df2, min_doc_freq=9).collect()
    assert {r["text"] for r in r2} == {"first\nsecond\nthird", "zzz"}


def test_decontaminate(spark):
    from phaser_spark.ops import cleaning

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon more"),
            (2, "totally different words in here my friend today"),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r["doc_id"]: r
        for r in cleaning.decontaminate(
            corpus, bench, n=5, flag_only=True
        ).collect()
    }
    assert flagged[1]["contaminated"] and flagged[1]["n_contaminated_shingles"] >= 1
    assert not flagged[2]["contaminated"]
    dropped = cleaning.decontaminate(corpus, bench, n=5).collect()
    assert [r["doc_id"] for r in dropped] == [2]
    assert dropped[0].asDict().keys() == {"doc_id", "text"}


def test_char_entropy(spark):
    from phaser_spark.ops import text as T

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "aaaa"), (4, ""), (5, None), (6, "日日月")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.char_entropy for r in T.char_entropy(df).collect()}
    assert got[1] == 1.0          # two symbols, equal mass
    assert got[2] == 2.0          # four distinct symbols
    assert got[3] == 0.0          # single repeated symbol
    assert got[4] is None and got[5] is None
    import math

    expect = math.log2(3) - (2 * math.log2(2)) / 3  # unicode code points
    assert abs(got[6] - expect) < 1e-6
    # shuffle-layout invariance: decimal accumulation makes the score
    # bit-identical however the (doc, char) counts are partitioned
    big = spark.createDataFrame(
        [(i, ("abcdefgh"[: (i % 7) + 1]) * 9) for i in range(200)],
        "doc_id long, text string",
    )
    one = sorted(map(tuple, T.char_entropy(big.coalesce(1)).collect()))
    many = sorted(map(tuple, T.char_entropy(big.repartition(13, "doc_id")).collect()))
    assert one == many


def test_profile_nan_handling(spark):
    """NaN/Inf must not corrupt finite statistics: double→decimal casts
    drop them from sums while count() still counts the rows — the old
    mean of [1, 2, NaN] was 1.0."""
    import math

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import profile as P

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (float("nan"), 30.0), (float("inf"), 40.0)],
        "a double, b double",
    )
    prof = {
        (r.column, r.metric): r.value_num for r in P.profile(df, ["a"]).collect()
    }
    assert prof[("a", "mean")] == 1.5  # finite values only
    # correlations: the NaN row is pairwise-deleted from BOTH columns
    corr = P.correlations(df, ["a", "b"]).collect()[0]
    assert corr.n == 2
    expected = 1.0  # (1,10),(2,20) are perfectly correlated
    assert abs(corr.corr - expected) < 1e-9
    # histogram: NaN neither lands in overflow nor crashes
    h = {r.bin: r.n for r in P.histogram(df, "a", 2, 0.0, 4.0).collect()}
    assert h == {0: 1, 1: 1, 2: 1}  # 1→bin0, 2→bin1, inf→overflow; NaN dropped
    # explicit empty column list errors instead of profiling everything
    with _pytest.raises(PhaserError, match="no columns"):
        P.profile(df, [])


def test_bloom_mixed_key_dtypes_stay_exact(spark):
    """xxhash64 is type-sensitive: probing a BIGINT column against a
    bloom built over INT keys used to test the wrong bits and silently
    DROP true matches.  Probes now cast to the build side's dtypes."""
    from phaser_spark.ops import bloom

    big = spark.createDataFrame(
        [(i,) for i in range(20)], "id long"  # BIGINT probe side
    )
    keys = spark.createDataFrame([(5,), (7,)], "id int")  # INT build side
    semi = bloom.bloom_semi_join(big, keys, "id")
    assert sorted(r.id for r in semi.collect()) == [5, 7]
    anti = bloom.bloom_anti_join(big, keys, "id")
    assert sorted(r.id for r in anti.collect()) == [
        i for i in range(20) if i not in (5, 7)
    ]
    # duplicated key side must not inflate the bitmap sizing
    dup_keys = keys.union(keys).union(keys)
    bf = bloom.build_bloom(dup_keys, "id")
    assert bf.n_items == 2


def test_dedup_parameter_validation(spark):
    """Foot-gun parameters fail loudly instead of silently changing
    semantics (wrong keep side, incomplete simhash blocking, degenerate
    LSH banding)."""
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(PhaserError, match="keep"):
        dedup.exact_dedup(df, ["text"], keep="First")
    with _pytest.raises(PhaserError, match="max_hamming"):
        dedup.simhash_pairs(df, max_hamming=4)
    with _pytest.raises(PhaserError, match="word_hash"):
        dedup.simhash(df, word_hash="md-5")
    sigs = spark.createDataFrame([(1, [1, 2, 3, 4])], "id long, sig array<bigint>")
    with _pytest.raises(PhaserError, match="multiple"):
        dedup.minhash_bands(sigs, num_bands=3, num_perm=4)
    with _pytest.raises(PhaserError, match="multiple"):
        dedup.minhash_bands(sigs, num_bands=8, num_perm=4)


def test_minhash_signature_families_compatible(spark):
    """The ad-hoc expression form and the bulk aggregate form must emit
    the SAME signature for the same text — two silently incompatible
    permutation families would band to zero candidate pairs."""
    from pyspark.sql import functions as F

    from phaser_spark.ops import dedup

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    bulk = dedup.minhash_signatures(df, num_perm=8).collect()[0]["sig"]
    adhoc = df.select(
        dedup.minhash_signature(F.col("text"), num_perm=8).alias("sig")
    ).collect()[0]["sig"]
    assert bulk == adhoc


def test_cosine_topk_separate_id_namespaces(spark):
    """exclude_self=False keeps a corpus neighbor whose id coincides
    with an external query's id (different id namespaces)."""
    from phaser_spark.ops import similarity

    corpus = spark.createDataFrame(
        [(5, [1.0, 0.0]), (6, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(5, [1.0, 0.1])], "vec_id long, embedding array<double>"
    )
    strict = similarity.cosine_topk(corpus, queries, k=1)
    assert strict.collect()[0].neighbor_id == 6  # id-5 neighbor excluded
    open_ns = similarity.cosine_topk(corpus, queries, k=1, exclude_self=False)
    assert open_ns.collect()[0].neighbor_id == 5  # true nearest kept


def test_unigram_surprisal(spark):
    import math

    from phaser_spark.ops import text as T

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "A c!"), (3, ""), (4, None), (5, "...")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.surprisal for r in T.unigram_surprisal(df).collect()}
    # corpus: a×3, b×1, c×1, N=5 (normalization lowercases + strips punct)
    s_a = math.log2(5) - math.log2(3)
    s_rare = math.log2(5)
    exp1 = math.floor((2 * s_a + s_rare) / 3 * 1e6) / 1e6
    exp2 = math.floor((s_a + s_rare) / 2 * 1e6) / 1e6
    assert got[1] == exp1
    assert got[2] == exp2
    assert got[1] < got[2]  # common-word doc scores lower
    # empty / NULL / punctuation-only (normalizes to "") -> NULL score
    assert got[3] is None and got[4] is None and got[5] is None
    # shuffle-layout invariance via decimal term accumulation
    big = spark.createDataFrame(
        [(i, " ".join("word%d" % (j % (i % 5 + 1)) for j in range(20)))
         for i in range(100)],
        "doc_id long, text string",
    )
    one = sorted(map(tuple, T.unigram_surprisal(big.coalesce(1)).collect()))
    many = sorted(
        map(tuple, T.unigram_surprisal(big.repartition(11, "doc_id")).collect())
    )
    assert one == many


def test_semantic_decontaminate(spark):
    from phaser_spark.ops import cleaning

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0, 0.0, 0.0]),     # parallel (scaled): cosine 1.0
            (2, [0.9, 0.1, 0.0, 0.0]),     # near-parallel: cosine ~0.994
            (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal: cosine 0
            (4, [-1.0, 0.0, 0.0, 0.0]),    # anti-parallel: cosine -1
        ],
        "vec_id long, embedding array<double>",
    )
    kept = cleaning.semantic_decontaminate(
        corpus, bench, threshold=0.95
    ).collect()
    assert sorted(r.vec_id for r in kept) == [3, 4]
    assert kept[0].asDict().keys() == {"vec_id", "embedding"}
    flagged = {
        r.vec_id: r.contaminated
        for r in cleaning.semantic_decontaminate(
            corpus, bench, threshold=0.95, flag_only=True
        ).collect()
    }
    assert flagged == {1: True, 2: True, 3: False, 4: False}
    # exact decimal accumulation agrees on this fixture
    exact_kept = {
        r.vec_id
        for r in cleaning.semantic_decontaminate(
            corpus, bench, threshold=0.95, exact=True
        ).collect()
    }
    assert exact_kept == {3, 4}


def test_stratified_sample_by_hash(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fi") for i in range(2000)],
        "id long, lang string",
    )
    out = sampling.stratified_sample_by_hash(
        df, "id", "lang", {"en": 0.1, "fi": 1.0}
    )
    rows = out.collect()
    en = sum(1 for r in rows if r["lang"] == "en")
    fi = sum(1 for r in rows if r["lang"] == "fi")
    assert fi == 1000  # keep all of the low-resource stratum
    assert 50 < en < 200  # ~10% of 1000
    # reproducible: identical row set every run
    again = {r["id"] for r in sampling.stratified_sample_by_hash(
        df, "id", "lang", {"en": 0.1, "fi": 1.0}).collect()}
    assert again == {r["id"] for r in rows}
    # unlisted strata default to dropped
    df2 = spark.createDataFrame([(1, "xx")], "id long, lang string")
    assert sampling.stratified_sample_by_hash(df2, "id", "lang", {"en": 1.0}).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match=r"in \[0, 1\]"):
        sampling.stratified_sample_by_hash(df, "id", "lang", {"en": 1.5})


def test_web_ops(spark):
    from phaser_spark.ops import web

    df = spark.createDataFrame(
        [
            (1, "read https://News.Example.com/a and http://ads.bad/x now"),
            (2, "no links at all"),
        ],
        "id long, text string",
    )
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            web.url_count(F.col("text")).alias("n"),
            web.domains_in(F.col("text")).alias("doms"),
        ).collect()
    }
    assert rows[1]["n"] == 2 and rows[2]["n"] == 0
    assert rows[1]["doms"] == ["news.example.com", "ads.bad"]
    kept = web.filter_blocked_domains(df, "text", ["ADS.BAD"]).collect()
    assert [r["id"] for r in kept] == [2]
    counts = {
        r["domain"]: r["n_docs"] for r in web.domain_doc_counts(df, "id", "text").collect()
    }
    assert counts == {"news.example.com": 1, "ads.bad": 1}


def test_pack_sequences(spark):
    from phaser_spark.ops import sampling

    rows = [(i, "g", 100) for i in range(1, 11)]  # 10 docs x 100 tokens
    df = spark.createDataFrame(rows, "id long, grp string, n long")
    out = {
        r["id"]: r["bin_id"]
        for r in sampling.pack_sequences(
            df, "n", 250, order_col="id", partition_col="grp"
        ).collect()
    }
    # starts: 0,100,200,...,900 -> bins 0,0,0,1,1,2,2,2,3,3
    assert [out[i] for i in range(1, 11)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # global (no partition) gives the same here
    g = {
        r["id"]: r["bin_id"]
        for r in sampling.pack_sequences(df, "n", 250, order_col="id").collect()
    }
    assert g == out


def test_embedding_norms_and_normalize(spark, vecs):
    from phaser_spark.ops import embeddings as emb

    rows = {
        r["vec_id"]: r
        for r in vecs.select(
            "vec_id",
            emb.l2_norm(F.col("embedding")).alias("norm"),
            emb.l2_norm(emb.l2_normalize(F.col("embedding"))).alias("unit_norm"),
        ).collect()
    }
    assert rows[1]["norm"] == 1.0
    assert abs(rows[2]["norm"] - (0.81 + 0.01) ** 0.5) < 1e-12
    for vid in rows:
        assert abs(rows[vid]["unit_norm"] - 1.0) < 1e-12
    # zero vector: stays zero, no NaN
    z = spark.createDataFrame(
        [(9, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    r = z.select(
        emb.l2_normalize(F.col("embedding")).alias("v"),
        emb.l2_norm(F.col("embedding")).alias("n"),
    ).first()
    assert r["v"] == [0.0, 0.0] and r["n"] == 0.0


def test_quantize_int8_roundtrip_bound(spark, vecs):
    from phaser_spark.ops import embeddings as emb

    v = F.col("embedding")
    out = vecs.select(
        "vec_id",
        emb.quantize_int8(v).alias("qs"),
        emb.quantization_error(v).alias("err"),
        emb.max_abs(v).alias("scale"),
    ).collect()
    for r in out:
        assert r["qs"]["scale"] == r["scale"]
        qs = r["qs"]["q"]
        assert all(-127 <= q <= 127 for q in qs)
        # absmax reconstruction bound: err <= scale/254 (+ tiny fp slack)
        assert r["err"] <= r["scale"] / 254 + 1e-12
    # zero vector quantizes to zeros with scale 0 (no div-by-zero)
    z = spark.createDataFrame([(9, [0.0, 0.0])], "vec_id long, embedding array<double>")
    r = z.select(emb.quantize_int8(F.col("embedding")).alias("qs")).first()
    assert r["qs"]["scale"] == 0.0 and r["qs"]["q"] == [0, 0]


def test_group_centroids_exact_means(spark):
    from phaser_spark.ops import embeddings as emb

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [3.0, 2.0]),
            (3, 1, [5.0, 5.0]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    rows = {r["label"]: r for r in emb.group_centroids(df, "label").collect()}
    assert rows[0]["centroid"] == [2.0, 1.0] and rows[0]["n"] == 2
    assert rows[1]["centroid"] == [5.0, 5.0] and rows[1]["n"] == 1


def test_covariance_matrix_paths_agree_and_partition_invariant(spark):
    """The exact Catalyst expansion (oracle path) and the Arrow
    partial-outer-product path (100 TB path) produce the same truncated
    covariance entries, independent of partitioning."""
    import random as _r

    from phaser_spark.ops import embeddings as emb

    rng = _r.Random(5)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(6)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.i, r.j): r.cov
             for r in emb.covariance_matrix(df, exact=True).collect()}
    arrow = {(r.i, r.j): r.cov
             for r in emb.covariance_matrix(df, exact=False).collect()}
    arrow17 = {
        (r.i, r.j): r.cov
        for r in emb.covariance_matrix(
            df.repartition(17, "vec_id"), exact=False
        ).collect()
    }
    assert len(exact) == 21  # 6*7/2 upper triangle
    for k, v in exact.items():
        assert abs(arrow[k] - v) <= 2e-6, k      # one truncation step
        assert abs(arrow17[k] - v) <= 2e-6, k


def test_pca_fit_project_and_whiten(spark):
    """pca_fit matches numpy's eigendecomposition of the same covariance;
    projections decorrelate; whitening brings each kept dimension to
    unit variance; the literal and Arrow projection paths agree."""
    import random as _r

    import numpy as np

    from phaser_spark.ops import embeddings as emb

    rng = _r.Random(9)
    # anisotropic cloud: dim 0 stretched 5x, correlated with dim 1
    rows = []
    for i in range(400):
        a, b, c = rng.gauss(0, 5), rng.gauss(0, 1), rng.gauss(0, 0.2)
        rows.append((i, [a, 0.5 * a + b, c, rng.gauss(0, 0.1)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = emb.pca_fit(df, k=2, exact=True)
    V = np.array([r[1] for r in rows])
    mu = V.mean(0)
    C = (V - mu).T @ (V - mu) / len(V)
    w = np.sort(np.linalg.eigvalsh(C))[::-1][:2]
    got = np.array(model["explained_variance"])
    assert np.allclose(got, w, rtol=1e-3)
    proj = emb.pca_project(df, model, out_col="p", whiten=True)
    P = np.array([r["p"] for r in proj.select("p").collect()])
    # whitened: unit variance per kept dim, near-zero cross-correlation
    assert np.allclose(P.var(axis=0), 1.0, atol=0.05)
    assert abs(np.corrcoef(P.T)[0, 1]) < 0.05
    # Arrow path (force via tiny literal budget impossible — call gen
    # path by inflating k*d over the threshold is not possible at d=4,
    # so compare against a hand matmul instead)
    lit = np.array(
        [r["p"] for r in emb.pca_project(df, model, out_col="p").select("p").collect()]
    )
    comps = np.array(model["components"])
    want = (V - np.array(model["mean"])) @ comps.T
    assert np.allclose(lit, want, atol=1e-9)


def test_pca_project_arrow_path_and_dirty_rows(spark):
    """Models past the literal-plan budget run the Arrow matmul under the
    shared dirty-row rule: a null vector, a wrong length or a null element
    gives a NULL projection, a NaN element computes through.  An existing
    ``out_col`` is replaced in place, as ``withColumn`` does."""
    import random as _r

    import numpy as np

    from phaser_spark.ops import embeddings as emb

    rng = _r.Random(4)
    d, k = 70, 60  # k*d = 4200 > 4096 -> arrow path
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model = emb.pca_fit(df, k=k, exact=False)
    dirty = spark.createDataFrame(
        [(i, "stale", v) for i, v in rows[:3]] + [
            (99, "stale", None),
            (98, "stale", [1.0, 2.0]),
            (97, "stale", rows[0][1] + [0.5]),
            (96, "stale", rows[0][1][:-1] + [None]),
            (95, "stale", rows[0][1][:-1] + [float("nan")]),
        ],
        "vec_id long, p string, embedding array<double>",
    )
    projected = emb.pca_project(dirty, model, out_col="p")
    assert projected.columns == ["vec_id", "p", "embedding"]
    out = {r.vec_id: r.p for r in projected.collect()}
    assert out[99] is None and out[98] is None
    assert out[97] is None and out[96] is None
    assert len(out[95]) == k and all(np.isnan(out[95]))
    V = np.array(rows[0][1])
    want = (V - np.array(model["mean"])) @ np.array(model["components"]).T
    assert np.allclose(np.array(out[0]), want, atol=1e-9)


def test_embedding_summary_checksum(spark, vecs):
    from phaser_spark.ops import embeddings as emb

    rows = {r["vec_id"]: r for r in emb.embedding_summary(vecs).collect()}
    # vec 1 = [1,0,0]: scale 1, q=[127,0,0], checksum 127
    assert rows[1]["q_sum"] == 127
    assert rows[1]["norm"] == 1.0 and rows[1]["q_scale"] == 1.0
    # vec 2 = [.9,.1,0]: q = [127, floor(.1/.9*127+.5), 0] = [127, 14]
    assert rows[2]["q_sum"] == 127 + 14


def test_minhash_incremental_matches_full_restricted(spark):
    # incremental(new, corpus) must equal the FULL self-join pair set
    # restricted to pairs touching a new doc — including new x new — and
    # must never emit corpus x corpus pairs
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),   # dup of 1 (corpus)
        (10, "the quick brown fox jumps over the lazy dog"),  # new, dup of 1+4
        (11, "the quick brown fox jumps over the lazy cat "), # new, ~dup of 2
        (12, "unrelated new material entirely its own text"),
        (13, "unrelated new material entirely its own text"), # new x new dup
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = docs.filter(F.col("doc_id") < 10)
    new = docs.filter(F.col("doc_id") >= 10)
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    expected = {k: v for k, v in full.items() if k[0] >= 10 or k[1] >= 10}
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_incremental(new, corpus, threshold=0.8).collect()
    }
    assert inc == expected
    assert (1, 4) in full and (1, 4) not in inc  # corpus pairs stay out
    assert any(a >= 10 and b >= 10 for a, b in inc)  # new x new found


def test_minhash_incremental_reuses_stored_signatures(spark):
    # the persisted corpus signature table must be a drop-in replacement
    # for re-signing the corpus (bit-identical band layout)
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (20, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus = docs.filter(F.col("doc_id") < 20)
    new = docs.filter(F.col("doc_id") >= 20)
    stored = dedup.minhash_signatures(corpus, "doc_id", "text")
    with_stored = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_incremental(
            new, corpus, threshold=0.8, corpus_sigs=stored
        ).collect()
    )
    without = sorted(
        tuple(r)
        for r in dedup.minhash_lsh_incremental(new, corpus, threshold=0.8).collect()
    )
    assert with_stored == without
    assert with_stored and with_stored[0][:2] == (1, 20)


def test_hll_sketches_merge_matches_global_estimate(spark):
    """The 100 TB story: per-day HLL blobs merged over any range must give
    the same answer as one full pass (register-max union is lossless), and
    estimates must be deterministic run-to-run (the oracle hashes them)."""
    from phaser_spark.ops import sketches

    df = spark.range(0, 20000).select(
        (F.col("id") % 10).alias("day"), (F.col("id") % 3217).alias("user")
    )
    daily = sketches.hll_sketches(df, ["day"], "user", lg_k=12)
    merged = sketches.hll_merge_estimate(
        daily.withColumn("all", F.lit(1)), ["all"]
    )
    est = merged.collect()[0]["distinct_estimate"]
    exact = df.select("user").distinct().count()
    assert abs(est - exact) <= 0.05 * exact
    # determinism across independent builds (different partitioning)
    est2 = sketches.hll_merge_estimate(
        sketches.hll_sketches(
            df.repartition(7), ["day"], "user", lg_k=12
        ).withColumn("all", F.lit(1)),
        ["all"],
    ).collect()[0]["distinct_estimate"]
    assert est == est2


def test_sketch_accuracy_report_within_tolerance(spark):
    from phaser_spark.ops import sketches

    df = spark.range(0, 30000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 2801).alias("v")
    )
    rows = sketches.sketch_accuracy_report(df, ["g"], "v", tolerance=0.05).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["exact_distinct"] == 2801 // 4 + (1 if r["g"] < 2801 % 4 else 0) or r["exact_distinct"] > 0
        assert r["approx_within_tol"] and r["hll_within_tol"]


def test_approx_quantiles_rank_error_bounded(spark):
    from phaser_spark.ops import sketches

    n = 10000
    df = spark.range(0, n).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    got = sketches.approx_quantiles(df, ["g"], "v", [0.5, 0.9], accuracy=1000)
    q50, q90 = got.collect()[0]["v_quantiles"]
    # rank error <= n/accuracy = 10
    assert abs(q50 - n // 2) <= 2 * (n // 1000)
    assert abs(q90 - 9 * n // 10) <= 2 * (n // 1000)


def test_approx_distinct_requires_probabilities(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import sketches

    df = spark.range(3).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    with _pytest.raises(PhaserError):
        sketches.approx_quantiles(df, ["g"], "v", [])


def test_connected_components_chain_star_isolated(spark):
    """Path + star + isolated vertices, with expected clusters from a
    driver-side union-find; pointer-jumping must converge a 120-hop chain
    well inside the 50-round budget."""
    from phaser_spark.ops.graph import connected_components

    chain = [(i, i + 1) for i in range(1000, 1120)]      # 121-vertex path
    star = [(5000, x) for x in (5001, 5002, 5003)]
    cycle = [(7000, 7001), (7001, 7002), (7002, 7000)]
    edges = spark.createDataFrame(chain + star + cycle, "src long, dst long")
    verts = spark.createDataFrame([(9999,)] + [(v,) for v in range(1000, 1121)]
                                  + [(v,) for v in range(5000, 5004)]
                                  + [(v,) for v in range(7000, 7003)], "id long")
    got = {
        (r.id, r.component)
        for r in connected_components(edges, vertices=verts).collect()
    }
    expect = {(v, 1000) for v in range(1000, 1121)}
    expect |= {(v, 5000) for v in range(5000, 5004)}
    expect |= {(v, 7000) for v in range(7000, 7003)}
    expect.add((9999, 9999))  # isolated vertex keeps itself
    assert got == expect

    # a half-NULL edge cannot propagate, but its non-null endpoint is a
    # real vertex: it must come back as a singleton, not vanish
    dirty = spark.createDataFrame(
        [(1, 2), (3, None), (None, 4), (None, None)], "src long, dst long"
    )
    got = {
        (r.id, r.component) for r in connected_components(dirty).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 3), (4, 4)}


def test_connected_components_matches_plain_propagation(spark):
    from phaser_spark.ops.graph import connected_components

    import random
    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    e = spark.createDataFrame(edges, "src long, dst long")
    fast = {(r.id, r.component) for r in connected_components(e).collect()}
    slow = {
        (r.id, r.component)
        for r in connected_components(e, path_compression=False).collect()
    }
    assert fast == slow


def test_connected_components_warns_when_budget_too_small(spark):
    import warnings as _w

    from phaser_spark.ops.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        connected_components(chain, max_iters=2, path_compression=False).collect()
    assert any("no fixpoint" in str(r.message) for r in rec)


def _reference_pagerank(edges, damping, n_iters, extra_vertices=()):
    """Driver-side reference: same algorithm, plain Python floats."""
    e = sorted({(s, d) for s, d in edges if s is not None and d is not None})
    verts = sorted(
        {v for pair in edges for v in pair if v is not None} | set(extra_vertices)
    )
    n = len(verts)
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {v: 1.0 / n for v in verts}
    for _ in range(n_iters):
        dangling = sum(pr[v] for v in verts if v not in outdeg)
        contrib = {v: 0.0 for v in verts}
        for s, d in e:
            contrib[d] += pr[s] / outdeg[s]
        pr = {
            v: (1.0 - damping) / n
            + damping * (dangling / n + contrib[v])
            for v in verts
        }
    return pr


def test_pagerank_matches_reference_implementation(spark):
    """Random directed graph with dangling sinks and parallel edges:
    the distributed scores must match a pure-Python replay of the same
    recurrence to well under the 12-digit output truncation."""
    import random

    from phaser_spark.ops.graph import pagerank

    rng = random.Random(13)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
    edges += edges[:10]  # parallel duplicates must collapse, not double mass
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.pagerank for r in pagerank(e, n_iters=6).collect()}
    want = _reference_pagerank(set(edges), 0.85, 6)
    assert set(got) == set(want)
    for v, p in want.items():
        assert abs(got[v] - p) < 1e-9, f"vertex {v}: {got[v]} vs {p}"
    # total mass is conserved (teleport + dangling redistribution)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def _reference_pagerank_weighted(edges, damping, n_iters, extra_vertices=()):
    """Weighted replay: edges = {(s, d): w} with parallel weights summed."""
    verts = sorted({v for pair in edges for v in pair} | set(extra_vertices))
    n = len(verts)
    outw = {}
    for (s, _), w in edges.items():
        outw[s] = outw.get(s, 0.0) + w
    pr = {v: 1.0 / n for v in verts}
    history = [dict(pr)]
    for _ in range(n_iters):
        dangling = sum(pr[v] for v in verts if v not in outw)
        contrib = {v: 0.0 for v in verts}
        for (s, d), w in edges.items():
            contrib[d] += pr[s] * w / outw[s]
        pr = {
            v: (1.0 - damping) / n + damping * (dangling / n + contrib[v])
            for v in verts
        }
        history.append(dict(pr))
    return pr, history


def test_pagerank_weighted_matches_reference_and_reports_delta(spark):
    """Random weighted digraph (parallel edges whose weights must SUM,
    dangling sinks, an excluded zero/NaN/NULL-weight edge): scores match
    the pure-Python weighted replay, and delta_col carries the last
    round's |pr_n - pr_{n-1}| per vertex."""
    import random

    from phaser_spark.ops.graph import pagerank

    rng = random.Random(5)
    raw = [
        (rng.randrange(20), rng.randrange(20), float(rng.randint(1, 9)))
        for _ in range(60)
    ]
    raw += [(s, d, w) for s, d, w in raw[:8]]  # parallel edges: weights sum
    # excluded-but-vertex-preserving edges: zero and NULL weight
    extra = [(77, 1, 0.0), (78, 2, -3.0), (79, 3, None)]
    e = spark.createDataFrame(raw + extra, "src long, dst long, w double")
    got = {
        r.id: (r.pagerank, r.pr_delta)
        for r in pagerank(
            e, n_iters=5, weight_col="w", delta_col="pr_delta"
        ).collect()
    }
    edges = {}
    for s, d, w in raw:
        edges[(s, d)] = edges.get((s, d), 0.0) + w
    # dropped-weight edges keep their endpoints as vertices: 77/78/79
    # are dangling singletons that still hold and shed teleport mass
    want, hist = _reference_pagerank_weighted(
        edges, 0.85, 5, extra_vertices=(77, 78, 79)
    )
    assert set(got) == set(want)
    for v, p in want.items():
        assert abs(got[v][0] - p) < 1e-9, v
        assert abs(got[v][1] - abs(hist[5][v] - hist[4][v])) < 1e-9, v
    assert abs(sum(p for p, _ in got.values()) - 1.0) < 1e-6
    # unweighted result with all-equal weights == weighted result
    eq = spark.createDataFrame(
        [(s, d, 2.5) for (s, d) in edges], "src long, dst long, w double"
    )
    w_scores = {
        r.id: r.pagerank for r in pagerank(eq, n_iters=4, weight_col="w").collect()
    }
    u_scores = {
        r.id: r.pagerank
        for r in pagerank(eq.select("src", "dst"), n_iters=4).collect()
    }
    assert all(abs(w_scores[v] - u_scores[v]) < 1e-9 for v in u_scores)
    # NaN weight raises loudly (the pps_sample contract), never a
    # silent drop or an opaque ANSI overflow
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, float("nan"))], "src long, dst long, w double"
    )
    with _pytest.raises(Exception, match="does not fit decimal"):
        pagerank(bad, n_iters=2, weight_col="w").collect()


def test_component_size_stats_histogram_and_null_bucket(spark):
    """Histogram over cluster labels: sizes bucket correctly, NULL labels
    carry their row mass as size-NULL with ZERO clusters (never one
    phantom mega-cluster), shares sum to 1."""
    from phaser_spark.ops.graph import component_size_stats

    rows = (
        [(i, "a") for i in range(5)]        # one 5-cluster
        + [(10, "b"), (11, "b")]            # one 2-cluster
        + [(20, "c"), (21, "d"), (22, "e")]  # three singletons
        + [(30, None), (31, None)]          # two unlabeled rows
    )
    df = spark.createDataFrame(rows, "id long, component string")
    got = {r.size: r for r in component_size_stats(df).collect()}
    assert got[5].n_clusters == 1 and got[5].n_rows == 5
    assert got[2].n_clusters == 1 and got[2].n_rows == 2
    assert got[1].n_clusters == 3 and got[1].n_rows == 3
    assert got[None].n_clusters == 0 and got[None].n_rows == 2
    assert abs(sum(r.row_share for r in got.values()) - 1.0) < 1e-12
    assert got[5].row_share == 5 / 12


def test_pagerank_star_ranks_center_highest_and_handles_nulls(spark):
    from phaser_spark.ops.graph import pagerank

    star = [(leaf, 100) for leaf in range(1, 6)]
    e = spark.createDataFrame(
        star + [(7, None), (None, 8), (None, None)], "src long, dst long"
    )
    got = {r.id: r.pagerank for r in pagerank(e, n_iters=4).collect()}
    # half-null edges contribute their non-null endpoint as a vertex
    assert set(got) == {1, 2, 3, 4, 5, 7, 8, 100}
    assert got[100] == max(got.values())
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_isolated_vertices_and_validation(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.graph import pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,), (99,)], "id long")
    got = {r.id: r.pagerank for r in pagerank(e, vertices=verts, n_iters=3).collect()}
    assert set(got) == {1, 2, 99}
    want = _reference_pagerank({(1, 2)}, 0.85, 3, extra_vertices=(99,))
    for v, p in want.items():
        assert abs(got[v] - p) < 1e-9
    with _pytest.raises(PhaserError):
        pagerank(e, damping=1.0)
    with _pytest.raises(PhaserError):
        pagerank(e, n_iters=0)
    with _pytest.raises(PhaserError):
        pagerank(e.withColumnRenamed("src", "from"))


def test_pagerank_empty_graph_schema_invariant_with_delta(spark):
    # ADVICE r8: the n == 0 early return must carry the same columns as
    # the non-empty path, including delta_col when requested, so unions
    # over a degenerate empty edge frame don't fail
    from phaser_spark.ops.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    some = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got_e = pagerank(empty, n_iters=2, delta_col="pr_delta")
    got_s = pagerank(some, n_iters=2, delta_col="pr_delta")
    assert got_e.columns == got_s.columns == ["id", "pagerank", "pr_delta"]
    assert [f.dataType for f in got_e.schema.fields] == [
        f.dataType for f in got_s.schema.fields
    ]
    assert got_e.unionByName(got_s).count() == 2
    # and without delta the empty path stays two-column
    assert pagerank(empty, n_iters=2).columns == ["id", "pagerank"]


def test_kll_daily_sketches_merge_close_to_exact_quantiles(spark):
    from phaser_spark.ops import sketches

    n = 40000
    df = spark.range(0, n).select(
        (F.col("id") % 8).alias("day"), F.col("id").alias("v")
    )
    daily = sketches.kll_quantile_sketches(df, ["day"], "v", k=200)
    q = sketches.kll_merge_quantiles(
        daily.withColumn("all", F.lit(1)), ["all"], [0.5, 0.99]
    ).collect()[0]["quantiles"]
    # KLL rank error at k=200 is ~1.7%; allow 2.5% of n
    assert abs(q[0] - n / 2) <= 0.025 * n
    assert abs(q[1] - 0.99 * n) <= 0.025 * n


def test_theta_overlap_close_to_exact_set_algebra(spark):
    from phaser_spark.ops import sketches

    a = spark.range(0, 6000).select(F.lit(1).alias("g"), F.col("id").alias("u"))
    b = spark.range(4000, 9000).select(F.lit(1).alias("g"), F.col("id").alias("u"))
    sa = sketches.theta_sketches(a, ["g"], "u")
    sb = sketches.theta_sketches(b, ["g"], "u", sketch_col="theta_sketch_r")
    ov = sketches.theta_overlap(sa, sb, on=["g"]).collect()[0]
    for got, exact in [(ov.n_left, 6000), (ov.n_right, 5000),
                       (ov.n_intersection, 2000), (ov.n_union, 9000),
                       (ov.n_left_only, 4000)]:
        assert abs(got - exact) <= 0.05 * exact, (got, exact)


def test_temperature_resample_rebalances_toward_uniform(spark):
    from phaser_spark.ops.sampling import temperature_resample

    rows = (
        [(i, "big") for i in range(4000)]
        + [(i + 10000, "mid") for i in range(1000)]
        + [(i + 20000, "small") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "id long, g string")
    out = temperature_resample(df, "id", "g", alpha=0.5)
    got = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the smallest group keeps everything
    assert got["small"] == 100
    # kept fraction ~ (n_small/n_g)^0.5: big ~ 4000*sqrt(100/4000)=632
    assert abs(got["big"] - 4000 * (100 / 4000) ** 0.5) < 80
    assert abs(got["mid"] - 1000 * (100 / 1000) ** 0.5) < 60
    # shares are now far flatter than 40:10:1
    assert max(got.values()) / min(got.values()) < 8
    # deterministic: same kept set on re-run
    again = {r["id"] for r in temperature_resample(df, "id", "g", alpha=0.5).collect()}
    assert again == {r["id"] for r in out.collect()}


def test_temperature_resample_alpha_one_keeps_everything(spark):
    from phaser_spark.ops.sampling import temperature_resample

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)], "id long, g string"
    )
    assert temperature_resample(df, "id", "g", alpha=1.0).count() == 300


def test_theta_merge_estimate_union_and_intersection(spark):
    from phaser_spark.ops import sketches

    # 3 daily slices: users 0..999 every day, plus 1000 day-unique users/day
    days = []
    for d in range(3):
        days.append(
            spark.range(0, 1000).select(F.lit(d).alias("day"), F.col("id").alias("u"))
            .union(
                spark.range(10000 + d * 1000, 10000 + (d + 1) * 1000)
                .select(F.lit(d).alias("day"), F.col("id").alias("u"))
            )
        )
    df = days[0].union(days[1]).union(days[2])
    blobs = sketches.theta_sketches(df, ["day"], "u").withColumn("all", F.lit(1))
    uni = sketches.theta_merge_estimate(blobs, ["all"], "union").collect()[0]
    inter = sketches.theta_merge_estimate(blobs, ["all"], "intersection").collect()[0]
    assert abs(uni["distinct_estimate"] - 4000) <= 200    # 1000 shared + 3*1000 unique
    assert abs(inter["distinct_estimate"] - 1000) <= 50   # the shared core


def test_temperature_resample_keeps_null_group(spark):
    from phaser_spark.ops.sampling import temperature_resample

    df = spark.createDataFrame(
        [(i, "en") for i in range(500)] + [(i + 1000, None) for i in range(20)],
        "id long, g string",
    )
    got = temperature_resample(df, "id", "g", alpha=0.5)
    kept_null = got.filter(F.col("g").isNull()).count()
    assert kept_null == 20  # smallest group (NULL) keeps everything


def test_connected_components_vertices_union_edge_endpoints(spark):
    # vertices= must UNION with edge endpoints, not replace them: passing a
    # frame missing a chain's middle vertex must not split the component
    from phaser_spark.ops.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    only_ends = spark.createDataFrame([(1,), (3,), (99,)], "id long")
    got = {
        (r.id, r.component)
        for r in connected_components(edges, vertices=only_ends).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (99, 99)}


def test_theta_overlap_composes_with_default_sketch_col(spark):
    # both sides built with theta_sketches' defaults must compose
    from phaser_spark.ops import sketches

    a = spark.range(0, 100).select(F.lit(1).alias("g"), F.col("id").alias("u"))
    b = spark.range(50, 150).select(F.lit(1).alias("g"), F.col("id").alias("u"))
    ov = sketches.theta_overlap(
        sketches.theta_sketches(a, ["g"], "u"),
        sketches.theta_sketches(b, ["g"], "u"),
        on=["g"],
    ).collect()[0]
    assert ov.n_intersection == 50 and ov.n_union == 150  # exact mode


def test_heavy_hitters_exact_topk_deterministic(spark):
    from phaser_spark.ops import frequency

    rows = (
        [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 3 + [("d",)] * 1
    )
    df = spark.createDataFrame(rows, "k string")
    got = frequency.heavy_hitters(df, ["k"], k=3).collect()
    # a and b tie at 5 -> key-ascending breaks the tie deterministically
    assert [(r.k, r.n) for r in got] == [("a", 5), ("b", 5), ("c", 3)]
    # min_count prunes the tail before the top-k
    got2 = frequency.heavy_hitters(df, ["k"], k=10, min_count=3).collect()
    assert sorted(r.k for r in got2) == ["a", "b", "c"]


def test_heavy_hitters_plans_as_take_ordered(spark):
    from phaser_spark.ops import frequency

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    plan = frequency.heavy_hitters(df, ["k"], k=5)._jdf.queryExecution().executedPlan().toString()
    # global top-k must be the heap-merge operator, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_heavy_hitters_per_group(spark):
    from phaser_spark.ops import frequency

    rows = []
    for g, vals in [("x", "aab"), ("y", "bbbc")]:
        rows += [(g, ch) for ch in vals]
    df = spark.createDataFrame(rows, "g string, v string")
    got = frequency.heavy_hitters_per_group(df, ["g"], ["v"], k=1).collect()
    top = {r.g: (r.v, r.n, r.rank) for r in got}
    assert top == {"x": ("a", 2, 1), "y": ("b", 3, 1)}


def test_count_min_sketch_estimate_and_merge(spark):
    from phaser_spark.ops import frequency

    # two "daily" slices with known exact counts
    day1 = [("d1", "apple")] * 30 + [("d1", "pear")] * 10
    day2 = [("d2", "apple")] * 5 + [("d2", "plum")] * 20
    df = spark.createDataFrame(day1 + day2, "day string, item string")
    blobs = {
        r.day: bytes(r.cms_sketch)
        for r in frequency.count_min_sketches(
            df, ["day"], "item", eps=0.001, confidence=0.99, seed=7
        ).collect()
    }
    est1 = frequency.cms_estimate(spark, blobs["d1"], ["apple", "pear", "absent"])
    # CMS never undershoots; at this eps/total the estimate is exact
    assert est1["apple"] == 30 and est1["pear"] == 10 and est1["absent"] == 0
    merged = frequency.cms_merge(spark, [blobs["d1"], blobs["d2"]])
    est = frequency.cms_estimate(spark, merged, ["apple", "pear", "plum"])
    assert est == {"apple": 35, "pear": 10, "plum": 20}


def test_count_min_sketch_long_items(spark):
    from phaser_spark.ops import frequency

    df = spark.createDataFrame(
        [(1, 1001)] * 8 + [(1, 1002)] * 3, "g long, item long"
    )
    blob = bytes(
        frequency.count_min_sketches(df, ["g"], "item").collect()[0].cms_sketch
    )
    est = frequency.cms_estimate(spark, blob, [1001, 1002])
    assert est[1001] == 8 and est[1002] == 3


def test_cms_merge_rejects_incompatible(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import frequency

    df = spark.createDataFrame([(1, "a")], "g long, item string")
    a = bytes(
        frequency.count_min_sketches(df, ["g"], "item", eps=0.01).collect()[0].cms_sketch
    )
    b = bytes(
        frequency.count_min_sketches(df, ["g"], "item", eps=0.001).collect()[0].cms_sketch
    )
    with _pytest.raises(PhaserError):
        frequency.cms_merge(spark, [a, b])
    with _pytest.raises(PhaserError):
        frequency.cms_merge(spark, [])


def test_bloom_semi_join_matches_plain_semi(spark):
    from phaser_spark.ops import bloom

    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(2000)], "k long, v string"
    )
    keys = spark.createDataFrame([(i,) for i in range(0, 2000, 7)], "k long")
    got = bloom.bloom_semi_join(big, keys, "k", fpp=0.05).collect()
    want = big.join(keys, "k", "left_semi").collect()
    assert sorted((r.k, r.v) for r in got) == sorted((r.k, r.v) for r in want)


def test_bloom_anti_join_matches_plain_anti_with_nulls(spark):
    from phaser_spark.ops import bloom

    rows = [(i, f"v{i}") for i in range(500)] + [(None, "null1"), (None, "null2")]
    big = spark.createDataFrame(rows, "k long, v string")
    keys = spark.createDataFrame([(i,) for i in range(0, 500, 3)], "k long")
    got = bloom.bloom_anti_join(big, keys, "k", fpp=0.05).collect()
    want = big.join(keys, "k", "left_anti").collect()
    key = lambda r: (r.k is None, r.k or 0, r.v)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    # null-key rows survive (null never matches a join condition)
    assert sorted(r.v for r in got if r.k is None) == ["null1", "null2"]


def test_bloom_composite_key_and_prebuilt_filter(spark):
    from phaser_spark.ops import bloom

    big = spark.createDataFrame(
        [(i % 10, f"t{i % 7}", i) for i in range(1000)], "a long, b string, x long"
    )
    keys = spark.createDataFrame(
        [(1, "t1"), (2, "t2"), (3, "t3")], "a long, b string"
    )
    bf = bloom.build_bloom(keys, ["a", "b"], fpp=0.01)
    got = bloom.bloom_semi_join(big, keys, ["a", "b"], bloom=bf).collect()
    want = big.join(keys, ["a", "b"], "left_semi").collect()
    assert sorted((r.a, r.b, r.x) for r in got) == sorted(
        (r.a, r.b, r.x) for r in want
    )


def test_bloom_no_false_negatives_and_bounded_fpp(spark):
    from phaser_spark.ops import bloom

    member = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    bf = bloom.build_bloom(member, "k", fpp=0.01)
    # every member passes (no false negatives)
    hits = member.filter(bloom.might_contain(member, "k", bf)).count()
    assert hits == 1000
    # non-members pass at ~fpp; allow generous slack over 5000 probes
    non = spark.createDataFrame([(i,) for i in range(10_000, 15_000)], "k long")
    fp = non.filter(bloom.might_contain(non, "k", bf)).count()
    assert fp <= 5000 * 0.05, f"false-positive rate too high: {fp}/5000"


def test_bloom_empty_keys(spark):
    from phaser_spark.ops import bloom

    big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    empty = spark.createDataFrame([], "k long")
    assert bloom.bloom_semi_join(big, empty, "k").count() == 0
    assert bloom.bloom_anti_join(big, empty, "k").count() == 2


def test_bloom_positions_are_jvm_side(spark):
    # the k probe positions must be codegen expressions, not Python —
    # only the bitmap test itself is an ArrowEvalPython stage
    from phaser_spark.ops import bloom

    keys = spark.createDataFrame([(i,) for i in range(100)], "k long")
    bf = bloom.build_bloom(keys, "k", fpp=0.01)
    big = spark.createDataFrame([(i,) for i in range(100)], "k long")
    plan = (
        big.filter(bloom.might_contain(big, "k", bf))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "xxhash64" in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_quality_checks_single_pass_and_results(spark):
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame(
        [
            (1, "a@x.com", 10.0),
            (2, "b@y.org", 55.0),
            (3, None, 110.0),
            (3, "not-an-email", 40.0),
        ],
        "id long, email string, score double",
    )
    checks = [
        Q.completeness("email", min_ratio=0.9),          # 0.75 -> fail
        Q.uniqueness("id"),                               # 0.75 -> fail
        Q.in_range("score", 0, 100, min_ratio=0.75),      # 0.75 -> pass
        Q.matches_pattern("email", r"[^@]+@[^@]+\.[a-z]+", min_ratio=0.5),
        Q.row_count(at_least=2, at_most=10),
        Q.min_of("score", at_least=0),
        Q.max_of("score", at_most=100),                   # 110 -> fail
        Q.satisfies("even_ids", F.col("id") % 2 == 0, min_ratio=0.4),
    ]
    rows = {r.check: r for r in Q.run_checks(df, checks).collect()}
    assert rows["completeness(email)"].metric == 0.75
    assert not rows["completeness(email)"].passed
    assert rows["uniqueness(id)"].metric == 0.75 and not rows["uniqueness(id)"].passed
    assert rows["in_range(score)"].passed
    assert rows["matches_pattern(email)"].metric == 0.5
    assert rows["row_count"].metric == 4.0 and rows["row_count"].passed
    assert rows["min_of(score)"].passed
    assert not rows["max_of(score)"].passed
    assert rows["even_ids"].metric == 0.25 and not rows["even_ids"].passed
    # declaration order preserved via check_order
    ordered = [r.check for r in sorted(rows.values(), key=lambda r: r.check_order)]
    assert ordered[0] == "completeness(email)" and ordered[-1] == "even_ids"


def test_quality_checks_one_scan_no_python(spark, tmp_path):
    # the whole suite must evaluate as ONE scan of the input and stay
    # JVM-side (uniqueness adds the distinct-rewrite Expand, not a scan)
    from phaser_spark.ops import quality as Q
    from phaser_spark.plan import plan_summary

    p = str(tmp_path / "t.parquet")
    spark.range(100).withColumn("v", F.col("id") % 7).write.parquet(p)
    df = spark.read.parquet(p)
    res = Q.run_checks(
        df,
        [Q.completeness("v"), Q.uniqueness("id"), Q.in_range("v", 0, 6),
         Q.row_count(at_least=1)],
    )
    s = plan_summary(res)
    assert s["scans"] == 1, s
    assert s["python_evals"] == 0, s


def test_quality_fail_on_violation(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame([(1,), (1,)], "id long")
    with _pytest.raises(PhaserError, match="uniqueness"):
        Q.fail_on_violation(df, [Q.uniqueness("id")])
    ok = Q.fail_on_violation(df, [Q.completeness("id")])
    assert ok.collect()[0].passed
    with _pytest.raises(PhaserError):
        Q.run_checks(df, [])
    with _pytest.raises(PhaserError):
        Q.run_checks(df, [Q.completeness("id"), Q.completeness("id")])

    # NULL verdicts (min_of over an all-NULL column) count as failures
    nulls = spark.createDataFrame([(None,), (None,)], "v double")
    with _pytest.raises(PhaserError, match="min_of"):
        Q.fail_on_violation(nulls, [Q.min_of("v", 0)])

    # grouped failures are reported with their group key and capped:
    # only failing rows reach the driver (first 100 + a '...' marker)
    many = spark.createDataFrame(
        [(i, None if i < 150 else 1.0) for i in range(151)], "g long, v double"
    )
    results = Q.run_checks(many, [Q.completeness("v")], group_by=["g"])
    failed = Q._collect_failures(results)
    assert len(failed) == Q._MAX_REPORTED_FAILURES + 1  # limit+1, not all 150
    detail = Q._failure_detail(failed, ["g"])
    assert "group=" in detail and detail.endswith("(first 100 shown)")

    # grouped gate form: a slice failure fails the suite even when the
    # whole-table average would pass
    sliced = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", None)], "g string, v double"
    )
    with _pytest.raises(PhaserError, match="group=b"):
        Q.fail_on_violation(sliced, [Q.completeness("v")], group_by=["g"])


def test_quality_checks_empty_input(spark):
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame([], "id long")
    rows = {r.check: r for r in Q.run_checks(
        df, [Q.completeness("id"), Q.row_count(at_least=1)]
    ).collect()}
    # ratio checks degrade to 0.0 on empty input (not null/crash)
    assert rows["completeness(id)"].metric == 0.0
    assert not rows["row_count"].passed


def test_quality_checks_per_group(spark):
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame(
        [("d1", 1), ("d1", 2), ("d2", None), ("d2", 4), ("d2", 4)],
        "day string, v long",
    )
    rows = Q.run_checks(
        df, [Q.completeness("v"), Q.row_count(at_least=2)], group_by=["day"]
    ).collect()
    got = {(r.day, r.check): (r.metric, r.passed) for r in rows}
    assert got[("d1", "completeness(v)")] == (1.0, True)
    # d2: 2/3 non-null -> fails the default min_ratio=1.0
    m, p = got[("d2", "completeness(v)")]
    assert abs(m - 2 / 3) < 1e-12 and not p
    assert got[("d1", "row_count")] == (2.0, True)
    assert got[("d2", "row_count")] == (3.0, True)


def test_quality_gate_step_in_phase(spark):
    import pytest as _pytest

    from phaser_spark import Phase, filter_rows
    from phaser_spark.context import Context
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame(
        [(1, 50.0), (2, 70.0), (3, -5.0)], "id long, score double"
    )
    # gate AFTER a filter: the quarantined/dropped rows must not count —
    # dropping the negative row first makes in_range pass
    ok_phase = Phase(
        name="gated",
        steps=[
            filter_rows(F.col("score") >= 0),
            Q.quality_gate_step([Q.in_range("score", 0, 100), Q.row_count(at_least=2)]),
        ],
        context=Context(spark=spark),
    )
    out = ok_phase.run(df)
    assert out.filter("NOT __phaser_drop__").count() == 2

    bad_phase = Phase(
        name="gated_bad",
        steps=[Q.quality_gate_step([Q.in_range("score", 0, 100)])],
        context=Context(spark=spark),
    )
    with _pytest.raises(PhaserError, match="in_range"):
        bad_phase.run(df)


# --- token budget mix ----------------------------------------------------


def _naive_budget_select(rows, budgets, default_budget, buckets=1024):
    """Single-order reference: sort each group by (bucket, md5, key),
    keep while exclusive cumsum < budget."""
    import hashlib

    def bkt(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % buckets

    def md5(k):
        return hashlib.md5(str(k).encode()).hexdigest()

    by_group = {}
    for k, n, g in rows:
        by_group.setdefault(g, []).append((k, n))
    keep = set()
    for g, docs in by_group.items():
        b = budgets.get(g, default_budget)
        if b is None:
            continue
        run = 0
        for k, n in sorted(docs, key=lambda d: (bkt(d[0]), md5(d[0]), d[0])):
            if run < b:
                keep.add(k)
            run += n
    return keep


def test_token_budget_select_matches_naive(spark):
    from phaser_spark.ops import sampling

    rows = [(f"doc{i}", (i * 37) % 90 + 10, ["en", "fr", "de"][i % 3]) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long, lang string")
    budgets = {"en": 500, "fr": 120, "de": 0}
    out = sampling.token_budget_select(
        df, "doc_id", "n_tokens", "lang", budgets, buckets=8
    )
    got = {r.doc_id for r in out.collect()}
    assert got == _naive_budget_select(rows, budgets, None, buckets=8)
    # de budget 0 -> nothing kept from de
    assert not any(k.startswith("doc") and int(k[3:]) % 3 == 2 for k in got)
    # overshoot bounded by < one doc: kept en total < 500 + max doc len
    kept_en = out.filter("lang = 'en'").agg(F.sum("n_tokens")).first()[0]
    assert 500 <= kept_en < 500 + 100


def test_token_budget_select_default_and_scalar(spark):
    from phaser_spark.ops import sampling

    rows = [(f"d{i}", 10, "g" + str(i % 2)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long, lang string")
    # groups without a budget and no default are dropped entirely
    out = sampling.token_budget_select(df, "doc_id", "n_tokens", "lang", {"g0": 1000})
    assert {r.lang for r in out.collect()} == {"g0"}
    assert out.count() == 10  # budget covers everything
    # scalar budget applies to every group; default_budget fills gaps
    out2 = sampling.token_budget_select(df, "doc_id", "n_tokens", "lang", 25)
    counts = {r.lang: r.c for r in out2.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts == {"g0": 3, "g1": 3}  # 10+10 < 25 -> third doc starts at 20 < 25


# --- PPS (weighted) sampling ---------------------------------------------


def _naive_pps(rows, k, buckets=1024):
    """Single-order reference: sort by (bucket, md5, key), exact integer
    cumulative weights, keep rows whose (lo, hi] interval crosses a
    threshold under the same double-arithmetic floor rule."""
    import hashlib
    import math

    def bkt(key):
        return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % buckets

    def h(key):
        return hashlib.md5(str(key).encode()).hexdigest()

    usable = [(key, w) for key, w in rows if w is not None and w > 0]
    total = float(sum(w for _, w in usable))
    keep, run = set(), 0
    for key, w in sorted(usable, key=lambda r: (bkt(r[0]), h(r[0]), r[0])):
        lo, hi = run, run + w
        if math.floor(float(hi) * float(k) / total) > math.floor(
            float(lo) * float(k) / total
        ):
            keep.add(key)
        run = hi
    return keep


def test_pps_sample_matches_naive_and_is_partitioning_invariant(spark):
    from phaser_spark.ops import sampling

    rows = [(f"doc{i}", (i * 53) % 197 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = sampling.pps_sample(df, "doc_id", "n_tokens", k=40, buckets=16)
    got = {r.doc_id for r in out.collect()}
    assert got == _naive_pps(rows, 40, buckets=16)
    assert len(got) == 40  # no weight exceeds W/k here -> exactly k draws
    # the selection is a property of the data, not the layout
    got2 = {
        r.doc_id
        for r in sampling.pps_sample(
            df.repartition(7, "doc_id"), "doc_id", "n_tokens", k=40, buckets=16
        ).collect()
    }
    assert got2 == got


def test_pps_sample_certainty_items_and_exclusions(spark):
    from phaser_spark.ops import sampling

    # one row holds >half the total weight: it spans multiple thresholds
    # but is returned exactly once (a certainty item), so the output may
    # be smaller than k — never larger
    rows = [("whale", 10_000)] + [(f"m{i}", 10) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, w long")
    out = sampling.pps_sample(df, "doc_id", "w", k=10)
    ids = [r.doc_id for r in out.collect()]
    assert ids.count("whale") == 1
    assert len(ids) <= 10
    # NULL / non-positive weights are excluded from output AND accounting:
    # adding them must not change the selection
    dirty = spark.createDataFrame(
        rows + [("z1", None), ("z2", 0), ("z3", -5)], "doc_id string, w long"
    )
    assert {r.doc_id for r in sampling.pps_sample(dirty, "doc_id", "w", k=10).collect()} == set(
        ids
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.pps_sample(df, "doc_id", "w", k=0)
    with _pytest.raises(ValueError):
        sampling.pps_sample(df, "doc_id", "w", k=5, buckets=0)


def test_pps_sample_heavier_rows_selected_more_often(spark):
    """Inclusion tracks weight: across many disjoint corpora, rows given
    10x the weight of their peers must be selected far more often."""
    from phaser_spark.ops import sampling

    heavy_hits = light_hits = 0
    for trial in range(5):
        rows = [
            (f"t{trial}_r{i}", 100 if i % 10 == 0 else 10) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id string, w long")
        got = {r.doc_id for r in sampling.pps_sample(df, "doc_id", "w", k=30).collect()}
        heavy_hits += sum(1 for key, w in rows if w == 100 and key in got)
        light_hits += sum(1 for key, w in rows if w == 10 and key in got)
    # 20 heavy rows (2000 mass) vs 180 light (1800 mass) per trial: the
    # heavy TENTH of rows should draw about half the picks
    assert heavy_hits >= 2 * light_hits / 3
    assert heavy_hits / 20 > light_hits / 180  # per-row rate ordering


def test_pps_sample_certainty_property_random(spark):
    """Seeded-random weights with several items above 2·W/k: every such
    certainty item is selected, the output equals the naive replay, and
    never exceeds k rows."""
    import random

    from phaser_spark.ops import sampling

    rng = random.Random(8)
    k = 12
    for trial in range(3):
        rows = [(f"t{trial}_d{i}", rng.randint(1, 50)) for i in range(120)]
        base_w = sum(w for _, w in rows)
        # each heavy item weighs base_w; final W = 4·base_w, so each is
        # W/4 ≥ 2·W/k for k=12 — an unambiguous certainty item
        heavies = [(f"t{trial}_whale{j}", base_w) for j in range(3)]
        rows += heavies
        df = spark.createDataFrame(rows, "doc_id string, w long")
        got = {
            r.doc_id
            for r in sampling.pps_sample(df, "doc_id", "w", k=k, buckets=16).collect()
        }
        assert got == _naive_pps(rows, k, buckets=16)
        assert {h for h, _ in heavies} <= got
        assert len(got) <= k


def test_ewma_nan_treated_as_gap(spark):
    """NaN is not NULL in Spark — collect_list would keep it and poison
    `window` rows of trailing means; it must gap-skip like NULL."""
    from phaser_spark.ops.timeseries import ewma

    df = spark.createDataFrame(
        [(0, 2.0), (1, float("nan")), (2, 4.0)], "t int, v double"
    )
    got = {r.t: r.v_ewma for r in ewma(df, "v", "t", alpha=0.5, window=3).collect()}
    import math

    assert not any(v is not None and math.isnan(v) for v in got.values())
    assert got[1] == 2.0  # window {2.0, NaN} -> just 2.0
    # window {2.0, NaN, 4.0}: weights 0.5/1 over the two real points
    assert abs(got[2] - (0.5 * 2.0 + 4.0) / 1.5) < 1e-6


def test_connected_components_rejects_nonpositive_max_iters(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.graph import connected_components

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(PhaserError, match="max_iters"):
        connected_components(e, max_iters=0)


def test_pack_best_fit_excludes_nan_lengths(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [("a", 5.0), ("b", float("nan")), ("c", 7.0)], "doc_id string, n double"
    )
    out = sampling.pack_best_fit(df, "doc_id", "n", capacity=16)
    assert {r.doc_id for r in out.collect()} == {"a", "c"}


def _reference_ewma(series, alpha, window):
    """Pure-Python replay of ewma's gap-skip semantics: the trailing
    ``window`` ROWS, NULLs dropped, weights α^j counted over the
    surviving values newest-first (pandas ewm(ignore_na=True) weighting
    restricted to a row-bounded window)."""
    out = []
    for i in range(len(series)):
        vals = [v for v in series[max(0, i - window + 1): i + 1] if v is not None]
        if not vals:
            out.append(None)
            continue
        ws = [alpha ** (len(vals) - 1 - j) for j in range(len(vals))]
        out.append(sum(v * w for v, w in zip(vals, ws)) / sum(ws))
    return out


def test_ewma_null_gaps_match_reference_replay(spark):
    """Seeded-random series with ~30% NULL gaps across several (alpha,
    window) settings: the distributed smoother must match the
    pure-Python gap-skip replay to within the 6-digit truncation —
    including all-NULL prefixes and windows that are entirely gaps."""
    import random

    from phaser_spark.ops.timeseries import ewma

    rng = random.Random(21)
    for alpha, window in ((0.3, 5), (0.7, 3), (0.5, 8)):
        series = {
            g: [
                None if rng.random() < 0.3 else round(rng.uniform(-50, 50), 3)
                for _ in range(40)
            ]
            for g in ("a", "b")
        }
        # group 'c': NULL prefix then values; group 'd': all NULL
        series["c"] = [None] * 6 + [1.0, 2.0, None, 4.0]
        series["d"] = [None] * 5
        rows = [
            (g, t, v) for g, vals in series.items() for t, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, "g string, t int, v double")
        out = ewma(
            df, "v", "t", alpha=alpha, window=window, partition_by="g"
        ).collect()
        got = {(r.g, r.t): r.v_ewma for r in out}
        for g, vals in series.items():
            want = _reference_ewma(vals, alpha, window)
            for t, wv in enumerate(want):
                gv = got[(g, t)]
                if wv is None:
                    assert gv is None, (g, t, gv)
                else:
                    assert gv is not None and abs(gv - wv) < 5e-6, (g, t, gv, wv)


# --- leakage-safe splitting -----------------------------------------------


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-dup clusters must land whole in one split; singletons follow
    the plain hash rule keyed on their own id."""
    import hashlib

    from phaser_spark.ops import sampling

    docs = spark.createDataFrame([(i,) for i in range(1, 41)], "doc_id long")
    # two chains (1-2-3, 10-11) and a NULL-endpoint edge that must not
    # create phantom vertices
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, None)], "id_a long, id_b long"
    )
    out = sampling.leakage_safe_split(
        docs, "doc_id", {"train": 0.7, "val": 0.15, "test": 0.15}, pairs
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 40
    # cluster members share representative AND split
    assert by_id[1].split_group == by_id[2].split_group == by_id[3].split_group == 1
    assert by_id[1].split == by_id[2].split == by_id[3].split
    assert by_id[10].split_group == by_id[11].split_group == 10
    assert by_id[10].split == by_id[11].split
    # singleton (incl. the half-null edge's endpoint): own id, hash rule
    def expect_split(key):
        b = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % 10000
        if b < 7000:
            return "train"
        if b < 8500:
            return "val"
        return "test"

    for v in (4, 5, 20, 40):
        assert by_id[v].split_group == v
        assert by_id[v].split == expect_split(v)
    assert by_id[2].split == expect_split(1)  # cluster keyed on representative
    # every row got a split; shares hold over clusters, not rows
    assert all(r.split in ("train", "val", "test") for r in out)


def test_minhash_lsh_edges_linear_on_mega_cluster(spark):
    """A 1000-copy cluster must produce O(copies) star edges, never the
    ~500k an all-pairs bucket self-join would emit — and those edges
    must still connect the whole cluster for the leakage guard."""
    from phaser_spark.ops import sampling

    boiler = "subscribe to our newsletter for the latest updates and offers"
    rows = [(i, boiler) for i in range(1, 1001)] + [
        (2001, "a genuinely unique document about spark physical planning"),
        (2002, "another distinct document covering parquet row groups"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    edges = dedup.minhash_lsh_edges(docs, "doc_id", "text").collect()
    # star per bucket: every band buckets the identical copies together
    # with hub=1, so distinct edges are exactly (1, i) for i in 2..1000
    assert len(edges) == 999
    assert all(r.id_a == 1 for r in edges)
    # singletons emit nothing
    assert not any(r.id_b in (2001, 2002) for r in edges)
    # composed with the split: the whole cluster lands in ONE split
    out = sampling.leakage_safe_split(
        docs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        spark.createDataFrame(edges),
    )
    cluster_splits = (
        out.filter(F.col("doc_id") <= 1000).select("split").distinct().collect()
    )
    assert len(cluster_splits) == 1


def test_split_shares_reports_row_and_weight_mass(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [
            ("train", 10),
            ("train", 30),
            ("val", 40),
            ("test", 10),
            (None, 10),  # NULL split (e.g. NULL-id rows) stays visible
        ],
        "split string, tokens int",
    )
    got = {
        r.split: r
        for r in sampling.split_shares(df, "split", "tokens").collect()
    }
    assert set(got) == {"train", "val", "test", None}
    assert got["train"].rows == 2 and got["train"].row_share == 0.4
    assert got["train"].weight == 40.0 and got["train"].weight_share == 0.4
    assert got["val"].weight_share == 0.4 and got["test"].weight_share == 0.1
    assert got[None].rows == 1 and got[None].weight_share == 0.1
    assert abs(sum(r.row_share for r in got.values()) - 1.0) < 1e-12
    # one NaN weight must not turn every share into NaN
    import math

    dirty = spark.createDataFrame(
        [("train", 10.0), ("train", float("nan")), ("val", 30.0)],
        "split string, tokens double",
    )
    got2 = {
        r.split: r
        for r in sampling.split_shares(dirty, "split", "tokens").collect()
    }
    assert got2["train"].weight == 10.0 and not math.isnan(got2["train"].weight_share)
    assert got2["train"].weight_share == 0.25 and got2["val"].weight_share == 0.75
    # r9 sweep: a single ±Infinity poisons every share the same way NaN
    # did (inf/inf = NaN) — must be excluded from the mass like NaN/NULL
    inf_dirty = spark.createDataFrame(
        [("train", 10.0), ("train", float("inf")), ("val", float("-inf")),
         ("val", 30.0)],
        "split string, tokens double",
    )
    got3 = {
        r.split: r
        for r in sampling.split_shares(inf_dirty, "split", "tokens").collect()
    }
    assert got3["train"].weight == 10.0 and got3["val"].weight == 30.0
    assert got3["train"].weight_share == 0.25 and got3["val"].weight_share == 0.75


def test_leakage_split_incremental_deterministic_on_dup_prior(spark):
    """r9 sweep: a prior that violates its one-row-per-id contract with
    CONFLICTING splits must still produce a deterministic inheritance
    (lexicographic (id, split) min), not a per-run min_by coin flip."""
    from phaser_spark.ops import sampling

    fr = {"train": 0.8, "val": 0.2}
    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    dup_prior = spark.createDataFrame(
        [(1, "val"), (1, "train")], "doc_id long, split string"
    )
    outs = set()
    for _ in range(3):
        got = sampling.leakage_safe_split_incremental(
            docs, "doc_id", fr, pairs, dup_prior
        ).collect()
        outs.add(tuple(sorted((r.doc_id, r.split, r.split_source) for r in got)))
    assert len(outs) == 1  # stable across replans
    rows = dict((r[0], r[1]) for r in next(iter(outs)))
    assert rows == {1: "train", 2: "train"}  # ("train" < "val" at id 1)


def test_cleaning_validation_rejects_degenerate_params(spark, docs):
    """r9 sweep: n=0 shingles would match everything via the empty
    shingle; min_doc_freq < 2 would cut every word of every document."""
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import cleaning

    bench = docs.limit(1)
    with pytest.raises(PhaserError, match=">= 1"):
        cleaning.contamination_report(docs, {"b": bench}, n=0)
    with pytest.raises(PhaserError, match="min_overlap"):
        cleaning.contamination_report(docs, {"b": bench}, min_overlap=0)
    with pytest.raises(PhaserError, match=">= 1"):
        cleaning.decontaminate(docs, bench, n=0)
    with pytest.raises(PhaserError, match="min_doc_freq"):
        cleaning.remove_repeated_spans(docs, min_doc_freq=1)
    with pytest.raises(PhaserError, match=">= 1"):
        cleaning.remove_repeated_spans(docs, n=0)


def test_linear_classifier_fit_scores_separate_classes(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import features as FE

    rows = [(float(i), 1.0, 1.0 if i > 0 else 0.0) for i in range(-20, 21) if i]
    rows += [(5.0, 1.0, float("nan")), (None, 1.0, 1.0)]  # excluded rows
    df = spark.createDataFrame(rows, "x double, bias double, y double")
    w = FE.linear_classifier_fit(df, ["x", "bias"], "y", lr=1.0, n_iters=6)
    assert len(w) == 2 and w[0] > 0  # positive slope separates the classes
    # determinism: same data -> bit-identical weights
    assert FE.linear_classifier_fit(df, ["x", "bias"], "y", lr=1.0, n_iters=6) == w
    scored = FE.linear_classifier_score(df, ["x", "bias"], w).collect()
    pos = [r["score"] for r in scored if r["y"] == 1.0 and r["x"] is not None]
    neg = [r["score"] for r in scored if r["y"] == 0.0]
    assert min(pos) > max(neg)  # the fitted score ranks every pos above every neg
    assert all(0.0 < s < 1.0 for s in pos + neg)
    with pytest.raises(PhaserError, match="at least one feature"):
        FE.linear_classifier_fit(df, [], "y")
    with pytest.raises(PhaserError, match="n_iters"):
        FE.linear_classifier_fit(df, ["x"], "y", n_iters=0)
    bad = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(PhaserError, match="0/1 labels"):
        FE.linear_classifier_fit(bad, ["x"], "y")
    with pytest.raises(PhaserError, match="align"):
        FE.linear_classifier_score(df, ["x"], [1.0, 2.0])


def test_linear_classifier_matches_python_replay_bitexact(spark):
    """Third-party check (beyond the DuckDB oracle): a pure-Python replay
    of the gradient descent — same left-associated z, same rational
    sigmoid, same floor-truncated integer gradient sums, same update
    associativity — must reproduce the Spark-fitted weights to the BIT.
    This is the determinism claim the docstring makes, tested literally."""
    import math
    import random

    from phaser_spark.ops import features as FE

    rng = random.Random(17)
    rows = [
        (rng.uniform(-3, 3), rng.uniform(0, 1), 1.0,
         1.0 if rng.random() < 0.5 else 0.0)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "a double, b double, bias double, y double")
    cols = ["a", "b", "bias"]
    got = FE.linear_classifier_fit(df, cols, "y", lr=0.7, n_iters=5, digits=12)

    scale = float(10**12)
    w = [0.0, 0.0, 0.0]
    n = len(rows)
    for _ in range(5):
        sums = [0, 0, 0]
        for a, b, bias, y in rows:
            x = (a, b, bias)
            z = 0.0
            for j in range(3):
                z = z + w[j] * x[j]
            resid = y - (0.5 + z / (2.0 * (1.0 + abs(z))))
            for j in range(3):
                sums[j] += math.floor(resid * x[j] * scale)
        w = [w[j] + 0.7 * (float(sums[j]) / scale) / n for j in range(3)]
    assert got == w  # bit-identical, not approximately equal


def test_top_p_by_group_nucleus_selection(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0), ("a", 2, 3.0), ("a", 3, 2.0),
            ("b", 4, 1.0), ("b", 5, 1.0),
            ("c", 6, float("nan")), ("c", 7, None), ("c", 8, 4.0),
        ],
        "g string, k long, s double",
    )
    # p=0.5 in group a: the 5.0 row alone crosses half the mass of 10
    got = sampling.top_p_by_group(df, "k", "s", "g", p=0.5)
    kept = {(r.g, r.k) for r in got.collect()}
    assert ("a", 1) in kept and ("a", 2) not in kept and ("a", 3) not in kept
    # group b is flat: the first-ranked row covers exactly half; the
    # boundary-crossing row is included, the next is not
    assert len([k for k in kept if k[0] == "b"]) == 1
    # NaN/NULL scores are excluded; the finite row survives
    assert [k for k in kept if k[0] == "c"] == [("c", 8)]
    # p=0.8 keeps 5.0 + 3.0 in group a
    kept8 = {(r.g, r.k) for r in
             sampling.top_p_by_group(df, "k", "s", "g", p=0.8).collect()}
    assert {k for k in kept8 if k[0] == "a"} == {("a", 1), ("a", 2)}
    # determinism across replans
    again = {(r.g, r.k) for r in
             sampling.top_p_by_group(df, "k", "s", "g", p=0.5).collect()}
    assert again == kept
    with pytest.raises(PhaserError, match="0 < p <= 1"):
        sampling.top_p_by_group(df, "k", "s", "g", p=0.0)
    bad = spark.createDataFrame([("a", 1, -2.0)], "g string, k long, s double")
    with pytest.raises(Exception, match="negative score"):
        sampling.top_p_by_group(bad, "k", "s", "g", p=0.5).collect()


def test_top_p_by_group_two_level_matches_single_window(spark):
    """The two-level (bin histogram → boundary-bin sort) selection keeps
    the EXACT row set the naive single-window formulation keeps, on a
    skewed replica where one group holds 50% of rows — and its row-level
    sort is partitioned by (group, bin), never by the group alone."""
    from pyspark.sql import Window

    from phaser_spark.ops import sampling
    from phaser_spark.plan import plan_text

    # group 'en' = 1000 rows (50%), 'de' 600, 'fr' 400; scores spread over
    # several octaves plus a tie-heavy plateau to exercise the md5 break
    rows = []
    for i in range(1000):
        rows.append(("en", i, float(1 + (i % 97) * (i % 13))))
    for i in range(600):
        rows.append(("de", 10_000 + i, float(50.0)))  # all-equal: one bin
    for i in range(400):
        rows.append(("fr", 20_000 + i, float(2 ** (i % 20))))
    df = spark.createDataFrame(rows, "g string, k long, s double")
    for p in (0.3, 0.6, 0.95, 1.0):
        got = sampling.top_p_by_group(df, "k", "s", "g", p=p)
        kept = {(r.g, r.k) for r in got.collect()}
        # naive reference: exclusive-prefix mass under the same order
        sd = F.round(F.col("s"), 6).cast("decimal(38,6)")
        order = [F.desc("__s__"), F.md5(F.col("k").cast("string")), F.col("k")]
        staged = df.withColumn("__s__", sd)
        mb = F.coalesce(
            F.sum("__s__").over(
                Window.partitionBy("g").orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("decimal(38,6)"),
        )
        tot = F.sum("__s__").over(Window.partitionBy("g"))
        want = {
            (r.g, r.k)
            for r in staged.withColumn(
                "__keep__", mb.cast("double") < F.lit(p) * tot.cast("double")
            ).filter("__keep__").collect()
        }
        assert kept == want, f"p={p}: two-level diverges from single-window"
    # plan shape: every row-level ranked window (the one ordering by the
    # staged score) must be partitioned by the bin too — a windowspec of
    # the bare group key would be the one-task-per-group shape
    plan = plan_text(sampling.top_p_by_group(df, "k", "s", "g", p=0.6))
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "__tp_score__" in line and "DESC" in line:
            assert "__tp_bin__" in line, f"full-group sort in plan: {line}"


def test_top_p_by_group_null_group_and_zero_scores(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [
            (None, 1, 4.0), (None, 2, 4.0), (None, 3, 0.0),
            ("z", 4, 0.0), ("z", 5, 0.0),
        ],
        "g string, k long, s double",
    )
    kept = {(r.g, r.k) for r in
            sampling.top_p_by_group(df, "k", "s", "g", p=0.5).collect()}
    # NULL group is a real group: exactly one of its two 4.0 rows crosses
    # half the mass of 8; the zero-score row never enters
    assert len([k for k in kept if k[0] is None]) == 1
    # an all-zero-mass group keeps nothing (0 < 0.5×0 is false)
    assert not [k for k in kept if k[0] == "z"]


def test_topk_by_group_two_level_matches_single_window(spark):
    """topk_by_group (the count-targeted generalization of the bucket
    trick to an arbitrary numeric ordering) keeps the EXACT row set of
    the naive row_number window, on a skewed replica where one group
    holds 50% of the rows — including negative / zero / ±Inf scores and
    tie plateaus — and its row-level sort is partitioned by (group, bin),
    never by the group alone."""
    from pyspark.sql import Window

    from phaser_spark.ops import sampling
    from phaser_spark.plan import plan_text

    rows = []
    for i in range(1000):  # en = 50%: signed scores over many octaves
        rows.append(("en", i, float((i % 97) - 48) * float(2 ** (i % 9))))
    for i in range(600):  # de: all-equal plateau — one bin
        rows.append(("de", 10_000 + i, 50.0))
    for i in range(400):  # fr: zeros, infinities, tiny magnitudes
        s = [0.0, float("inf"), float("-inf"), 1e-300, -1e-300][i % 5]
        rows.append(("fr", 20_000 + i, s))
    df = spark.createDataFrame(rows, "g string, k long, s double")
    for k, desc in [(7, True), (120, True), (2000, True), (7, False)]:
        got = sampling.topk_by_group(df, "k", "s", "g", k=k, descending=desc)
        kept = {(r.g, r.k) for r in got.collect()}
        order = [
            F.desc("s") if desc else F.asc("s"),
            F.md5(F.col("k").cast("string")),
            F.col("k"),
        ]
        w = Window.partitionBy("g").orderBy(*order)
        want = {
            (r.g, r.k)
            for r in df.filter(~F.isnan("s"))
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= k)
            .collect()
        }
        assert kept == want, f"k={k} desc={desc}: diverges from single-window"
    plan = plan_text(sampling.topk_by_group(df, "k", "s", "g", k=7))
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "__tk_ord__" in line and "DESC" in line:
            assert "__tk_bin__" in line, f"full-group sort in plan: {line}"


def test_topk_by_group_edges(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0), ("a", 2, float("nan")), ("a", 3, None),
            ("a", 4, 3.0),
            (None, 5, 2.0), (None, 6, 1.0),
        ],
        "g string, k long, s double",
    )
    # NaN/NULL scores cannot hold a rank; k exceeding group size keeps all
    kept = {(r.g, r.k) for r in
            sampling.topk_by_group(df, "k", "s", "g", k=10).collect()}
    assert kept == {("a", 1), ("a", 4), (None, 5), (None, 6)}
    # NULL group is a real group with its own quota
    top1 = {(r.g, r.k) for r in
            sampling.topk_by_group(df, "k", "s", "g", k=1).collect()}
    assert top1 == {("a", 1), (None, 5)}
    # ascending flips the kept end
    asc1 = {(r.g, r.k) for r in
            sampling.topk_by_group(df, "k", "s", "g", k=1,
                                   descending=False).collect()}
    assert asc1 == {("a", 4), (None, 6)}
    with pytest.raises(PhaserError, match="k >= 1"):
        sampling.topk_by_group(df, "k", "s", "g", k=0)
    # octave_bins above the sentinel-safe cap silently inverts bin order
    # (subnormal bins cross the ±2^31 sentinels) — rejected loudly
    with pytest.raises(PhaserError, match="octave_bins"):
        sampling.topk_by_group(df, "k", "s", "g", k=1, octave_bins=(1 << 20) + 1)
    with pytest.raises(PhaserError, match="octave_bins"):
        sampling.top_p_by_group(df, "k", "s", "g", p=0.5, octave_bins=(1 << 20) + 1)
    # the cap itself is accepted
    ok = sampling.topk_by_group(df, "k", "s", "g", k=1, octave_bins=1 << 20)
    assert {(r.g, r.k) for r in ok.collect()} == {("a", 1), (None, 5)}


def test_assign_shards_balanced_matches_single_window(spark):
    """assign_shards' two-level bucketed prefix equals the naive global
    (md5, key)-ordered exclusive-prefix rule, every shard's mass is
    within one document of total/n, and assignment is stable across
    replans."""
    from pyspark.sql import Window

    from phaser_spark.ops import sampling

    rows = [(i, float(1 + (i * 37) % 199)) for i in range(3000)]
    rows += [(None, 50.0), (99999, None)]  # NULL key / NULL weight
    df = spark.createDataFrame(rows, "k long, w double")
    n = 8
    got = sampling.assign_shards(df, "k", n, len_col="w")
    by_key = {r["k"]: r["shard"] for r in got.collect()}
    # naive single-window reference
    wt = F.coalesce(F.round(F.col("w"), 6).cast("decimal(38,6)"),
                    F.lit(0).cast("decimal(38,6)"))
    ww = Window.orderBy(F.md5(F.col("k").cast("string")), F.col("k"))
    lo = F.coalesce(
        F.sum(wt).over(ww.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("decimal(38,6)"),
    ).cast("double")
    tot = F.sum(wt).over(
        Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    ).cast("double")
    want = {
        r["k"]: r["s"]
        for r in df.select(
            "k",
            F.least(F.floor(lo * n / tot), F.lit(n - 1)).cast("int").alias("s"),
        ).collect()
    }
    assert by_key == want
    # balance: every shard within one max-weight of total/n
    mass = {}
    for r in got.collect():
        mass[r["shard"]] = mass.get(r["shard"], 0.0) + (r["w"] or 0.0)
    total = sum(v for _, v in ((k, w or 0.0) for k, w in rows))
    assert set(mass) == set(range(n))
    for s, m in mass.items():
        assert abs(m - total / n) <= 199.0 + 1e-6, (s, m, total / n)
    # determinism across replans
    again = {r["k"]: r["shard"] for r in
             sampling.assign_shards(df, "k", n, len_col="w").collect()}
    assert again == by_key


def test_assign_shards_edges(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import sampling

    zero = spark.createDataFrame([(1, 0.0), (2, 0.0)], "k long, w double")
    assert {r["shard"] for r in
            sampling.assign_shards(zero, "k", 4, len_col="w").collect()} == {0}
    # row-balanced mode (len_col=None): 100 rows into 10 shards of 10
    rows = spark.createDataFrame([(i,) for i in range(100)], "k long")
    cnt = {}
    for r in sampling.assign_shards(rows, "k", 10).collect():
        cnt[r["shard"]] = cnt.get(r["shard"], 0) + 1
    assert cnt == {i: 10 for i in range(10)}
    with pytest.raises(PhaserError, match="n_shards >= 1"):
        sampling.assign_shards(rows, "k", 0)
    neg = spark.createDataFrame([(1, -2.0)], "k long, w double")
    with pytest.raises(Exception, match="negative/NaN/Inf/overflow weight"):
        sampling.assign_shards(neg, "k", 2, len_col="w").collect()
    # NaN / Inf / decimal-overflow weights must fail LOUDLY — a silently
    # zeroed heavy document would skew every shard boundary (the
    # pps_sample discipline)
    for w in (float("nan"), float("inf"), 1e33):
        bad = spark.createDataFrame([(1, w), (2, 1.0)], "k long, w double")
        with pytest.raises(Exception, match="negative/NaN/Inf/overflow weight"):
            sampling.assign_shards(bad, "k", 2, len_col="w").collect()
    # epoch seed: different mix, same balance, still deterministic
    e0 = {r["k"]: r["shard"] for r in
          sampling.assign_shards(rows, "k", 10, seed=1).collect()}
    e0b = {r["k"]: r["shard"] for r in
           sampling.assign_shards(rows, "k", 10, seed=1).collect()}
    base = {r["k"]: r["shard"] for r in
            sampling.assign_shards(rows, "k", 10).collect()}
    assert e0 == e0b and e0 != base
    per = {}
    for s in e0.values():
        per[s] = per.get(s, 0) + 1
    assert per == {i: 10 for i in range(10)}


def test_pps_sample_rejects_overflow_weight(spark):
    """A weight >= 1e16 must fail loudly, not ANSI-throw opaquely or
    silently drop the row from the sample and the total."""
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [(1, 5.0), (2, 1e17)], "doc_id long, w double"
    )
    with pytest.raises(Exception, match="does not fit decimal"):
        sampling.pps_sample(df, "doc_id", "w", k=1).collect()


def test_pack_best_fit_rejects_bucket_overflow(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame([(1, 10)], "doc_id long, n int")
    with pytest.raises(ValueError, match="2\\^30"):
        sampling.pack_best_fit(df, "doc_id", "n", capacity=16, buckets=2**30 + 1)


def test_leakage_safe_split_incremental_inherits_and_hashes(spark):
    """Versioned-corpus invariants: clusters touching a prior assignment
    inherit it (min-id prior member wins on merges), fresh clusters get
    exactly the from-scratch hash assignment, and re-running with the
    output as prior is a fixpoint."""
    from phaser_spark.ops import sampling

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.createDataFrame([(i,) for i in range(1, 61)], "doc_id long")
    # prior: v1 corpus assigned 3='val', 10='train', 11='test'
    prior = spark.createDataFrame(
        [(3, "val"), (10, "train"), (11, "test")], "doc_id long, split string"
    )
    # cluster A: new docs 1,2 near-dup of prior doc 3 -> inherit 'val'
    # cluster B: new edge MERGES prior 10 ('train') and 11 ('test')
    #            -> min prior id (10) wins: 'train'
    # cluster C: 40-41, no prior member -> fresh hash rule
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (40, 41)], "id_a long, id_b long"
    )
    out = sampling.leakage_safe_split_incremental(
        docs, "doc_id", fr, pairs, prior
    )
    by_id = {r.doc_id: r for r in out.collect()}
    assert len(by_id) == 60
    assert {by_id[i].split for i in (1, 2, 3)} == {"val"}
    assert {by_id[i].split_source for i in (1, 2, 3)} == {"prior"}
    assert by_id[10].split == by_id[11].split == "train"
    # fresh clusters/singletons match the from-scratch operator exactly
    scratch = {
        r.doc_id: r.split
        for r in sampling.leakage_safe_split(
            docs, "doc_id", fr, pairs
        ).collect()
    }
    for i in (40, 41, 5, 25, 59):
        assert by_id[i].split == scratch[i], i
        assert by_id[i].split_source == "hash"
    # idempotence: feeding the output back as prior changes nothing
    prior2 = out.select("doc_id", "split")
    again = {
        r.doc_id: r.split
        for r in sampling.leakage_safe_split_incremental(
            docs, "doc_id", fr, pairs, prior2
        ).collect()
    }
    assert again == {i: r.split for i, r in by_id.items()}
    # prior ids absent from df still anchor their clusters but don't
    # appear in the output
    prior3 = spark.createDataFrame([(999, "test")], "doc_id long, split string")
    pairs3 = spark.createDataFrame([(999, 7)], "id_a long, id_b long")
    out3 = {
        r.doc_id: r
        for r in sampling.leakage_safe_split_incremental(
            docs, "doc_id", fr, pairs3, prior3
        ).collect()
    }
    assert set(out3) == set(range(1, 61))
    assert out3[7].split == "test" and out3[7].split_source == "prior"


# --- cluster representative / keep-best dedup ----------------------------


def test_pick_cluster_representative(spark):
    df = spark.createDataFrame(
        [
            (1, "a", 0.5),
            (2, "a", 0.9),
            (3, "a", 0.9),   # tie with 2 -> greater id wins
            (4, "b", 0.1),
            (5, None, 0.2),  # null cluster is its own group
        ],
        "id long, cluster string, score double",
    )
    out = dedup.pick_cluster_representative(df, "cluster", "score", "id")
    assert {r.id for r in out.collect()} == {3, 4, 5}


def test_minhash_dedup_keep_best(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", 0.2),
        (2, "the quick brown fox jumps over the lazy dog today", 0.8),  # dup of 1, better
        (3, "completely different content about spark engines here", 0.5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, quality double")
    out = dedup.minhash_dedup_keep_best(df, "doc_id", "text", "quality", threshold=0.8)
    assert {r.doc_id for r in out.collect()} == {2, 3}
    assert set(out.columns) == {"doc_id", "text", "quality"}


# --- winsorize -----------------------------------------------------------


def test_winsorize_global_and_grouped(spark):
    from phaser_spark.ops import quality as Q

    vals = [float(v) for v in range(1, 100)] + [10_000.0]  # one huge outlier
    df = spark.createDataFrame([(i, v, "g") for i, v in enumerate(vals)],
                               "id long, v double, g string")
    out = Q.winsorize(df, "v", lower=0.01, upper=0.99, exact=True)
    got = {r.id: r.v for r in out.collect()}
    assert max(got.values()) < 10_000.0           # outlier clamped
    assert got[0] > 1.0                           # low tail clamped up
    assert got[50] == vals[50]                    # middle untouched
    assert out.count() == 100

    # grouped: each group clamps to its own bounds
    df2 = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "a"), (4, 1000.0, "a"),
         (5, 5.0, "b"), (6, 6.0, "b")],
        "id long, v double, g string",
    )
    out2 = Q.winsorize(
        df2, "v", lower=0.0, upper=0.5, group_by=["g"], suffix="_w", exact=True
    )
    got2 = {r.id: r.v_w for r in out2.collect()}
    # group a median of (1,2,3,1000) = 2.5 -> 1000 clamps to 2.5
    assert got2[4] == 2.5 and got2[1] == 1.0
    assert got2[6] == 5.5  # group b upper = median(5,6)
    assert "v" in out2.columns  # originals preserved with suffix


def test_robust_standardize_mad_flags(spark):
    from phaser_spark.ops import quality as Q

    rows = [(i, float(v), "a") for i, v in enumerate(list(range(1, 10)) + [1000])]
    rows += [(100 + i, 7.0, "b") for i in range(4)]  # zero-MAD group
    df = spark.createDataFrame(rows, "id long, v double, g string")
    out = {
        r.id: (r.v_rz, r.v_outlier)
        for r in Q.robust_standardize(
            df, "v", group_by=["g"], exact=True, flag_threshold=3.5
        ).collect()
    }
    # group a: median 5.5, MAD 2.5 -> rz(1000) = 994.5/(1.4826*2.5)
    rz_outlier, flagged = out[9]
    assert abs(rz_outlier - 994.5 / (1.4826 * 2.5)) < 1e-6 and flagged
    rz_mid, flagged_mid = out[4]  # v=5 -> (5-5.5)/3.7065
    assert abs(rz_mid - (-0.5 / 3.7065)) < 1e-4 and not flagged_mid
    # zero-MAD group: NULL score, NULL flag (no division blow-up)
    assert out[100] == (None, None)
    # a classic mean/stddev z-score would NOT flag at 3.5 here with a
    # second outlier inflating sigma — MAD keeps its breakdown point
    rows2 = [(i, float(v)) for i, v in enumerate(list(range(1, 9)) + [900.0, 1000.0])]
    df2 = spark.createDataFrame(rows2, "id long, v double")
    robust = {
        r.id: r.v_outlier
        for r in Q.robust_standardize(
            df2, "v", exact=True, flag_threshold=3.5
        ).collect()
    }
    assert robust[8] and robust[9]  # both masked outliers caught


def test_winsorize_preserves_nulls(spark):
    """greatest/least skip NULLs, so an unguarded clamp rewrote NULL
    values to the group's LOWER bound (round-7 sweep finding)."""
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 100.0), (5, None)],
        "id long, v double",
    )
    got = {r.id: r.v for r in Q.winsorize(df, "v", 0.1, 0.9, exact=True).collect()}
    assert got[5] is None
    assert got[4] < 100.0  # clamping itself still works


def test_bpe_token_count_whitespace_consistent(spark):
    """Tabs/newlines must not count as subword tokens — only the literal
    space was filtered before (round-7 sweep finding)."""
    from phaser_spark.ops import text as T

    df = spark.createDataFrame(
        [("a  b",), ("a\t\tb",), ("a\nb",), ("don't stop!",)], "txt string"
    )
    got = [
        r.n for r in df.select(T.bpe_ish_token_count(F.col("txt")).alias("n")).collect()
    ]
    assert got == [2, 2, 2, 5]  # don | ' | t | stop | !


def test_winsorize_validation(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import quality as Q

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(PhaserError):
        Q.winsorize(df, [], 0.1, 0.9)
    with pytest.raises(PhaserError):
        Q.winsorize(df, "v", 0.9, 0.1)


# --- repeated-span removal (ExactSubstr-style) ---------------------------


def test_remove_repeated_spans(spark):
    from phaser_spark.ops import cleaning

    shared = "one two three four five six seven eight"  # 8-word shared span
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} epsilon zeta eta theta"),
        (3, "totally unique words nothing repeated here at all"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cleaning.remove_repeated_spans(df, n=8, min_doc_freq=2)
    got = {r.doc_id: (r.text, r.n_words_removed) for r in out.collect()}
    assert got[1] == ("alpha beta gamma delta", 8)
    assert got[2] == ("epsilon zeta eta theta", 8)
    assert got[3] == ("totally unique words nothing repeated here at all", 0)
    assert got[4] == ("", 0)


def test_remove_repeated_spans_overlapping_and_case(spark):
    from phaser_spark.ops import cleaning

    # 9 shared words -> two overlapping hot 8-grams covering all 9; doc 2
    # differs only in case/punctuation (normalized match, original cut)
    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    rows = [
        (1, f"{span} tail1"),
        (2, f"{span.upper().replace(' ', ', ')} tail2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cleaning.remove_repeated_spans(df, n=8, min_doc_freq=2)
    got = {r.doc_id: (r.text, r.n_words_removed) for r in out.collect()}
    assert got[1] == ("tail1", 9)
    assert got[2] == ("tail2", 9)


# --- semantic dedup (SemDeDup) -------------------------------------------


def test_semantic_dedup_drops_in_cell_near_dups(spark):
    # two tight pairs + two isolated vectors; fixed centroids make the
    # cells explicit: cell 1 ~ x-axis, cell 2 ~ y-axis
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1 -> dropped (1 < 2)
        (3, [0.0, 1.0, 0.0]),
        (4, [0.01, 0.999, 0.0]),   # near-dup of 3 -> dropped
        (5, [0.7, 0.7, 0.1]),      # same cell as 1/2 but not a dup at 0.99
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(
        df, centroids=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], threshold=0.99,
        cell_out="cell",
    )
    got = {r.vec_id: r.cell for r in out.collect()}
    assert set(got) == {1, 3, 5}
    assert got[1] == 1 and got[3] == 2


def test_semantic_dedup_chain_keeps_only_min(spark):
    # a < b < c chain: b dups a, c dups b (and a) -> only a survives
    rows = [
        (10, [1.0, 0.0]),
        (11, [0.9999, 0.0001]),
        (12, [0.9998, 0.0002]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(df, centroids=[[1.0, 0.0]], threshold=0.999)
    assert {r.vec_id for r in out.collect()} == {10}


def _far_cells(cents, n=63):
    """``cents`` plus ``n`` far-away cells: the same nearest cells, at a
    cell count past the old 64-cell switch."""
    dim = len(cents[0])
    return cents + [[1e3 + j] * dim for j in range(n)]


def test_assign_cells_matches_literal_fold(spark):
    """The kernel's cell equals the literal-expression fold's row for row
    — same squared-L2 argmin, same first-min tie rule, same 1-based ids
    — below and above 64 cells."""
    import random as _r

    from phaser_spark.ops import similarity

    rng = _r.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    for k in (40, 80):
        cents = similarity.medoid_centroids(df, "id", "v", k)
        lit = similarity.assign_cells(
            df, cents, "v", out_col="cell", dist_fn=similarity._sq_dist
        )
        got = similarity.assign_cells(df, cents, "v", out_col="cell")
        l = {r.id: r.cell for r in lit.collect()}
        g = {r.id: r.cell for r in got.collect()}
        assert g == l
        assert min(g.values()) >= 1 and max(g.values()) <= k


def test_assign_cells_null_and_ragged_rows(spark):
    """Dirty vectors (null, wrong length, null element) get a NULL cell
    from the kernel — matching the literal fold, where zip_with padding
    poisons every distance to null — instead of blowing up the task
    inside the matmul (ADVICE r11), at any cell count."""
    from phaser_spark.ops import similarity

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, None),                  # null vector
        (3, [1.0, 0.0]),            # ragged (dim 2, centroids dim 3)
        (4, [1.0, None, 0.0]),      # null element
        (5, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    two = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    for cents in (two, _far_cells(two)):
        lit = {r.id: r.cell for r in
               similarity.assign_cells(
                   df, cents, "v", out_col="cell", dist_fn=similarity._sq_dist
               ).collect()}
        got = {r.id: r.cell for r in
               similarity.assign_cells(df, cents, "v", out_col="cell").collect()}
        assert lit == got == {1: 1, 2: None, 3: None, 4: None, 5: 2}


def test_assign_cells_fold_arrow_nan_inf_and_tie_semantics(spark):
    """The kernel must replicate the literal expression's EDGE semantics,
    not just clean rows: NaN/Inf elements compute through the fold (an
    all-NaN/all-Inf distance row resolves to cell 1 — array_min/
    array_position under Spark's NaN-equals-NaN rule), exact distance
    ties pick the FIRST centroid, and dirty rows (null vector / ragged /
    null element) stay NULL.  The same holds past 64 cells, where the
    old matmul path gave NaN/Inf rows a NULL cell."""
    from phaser_spark.ops import similarity

    three = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]
    rows = [
        (1, [0.9, 0.1]),
        (2, [0.5, 0.5]),             # exact tie cell1/cell2 → first wins
        (3, [float("nan"), 0.0]),    # all dists NaN → cell 1
        (4, [float("inf"), 0.0]),    # all dists +Inf → cell 1
        (5, [1.0, 0.0, 0.0]),        # longer than dim → NULL (zip_with pads)
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    for cents in (three, _far_cells(three)):
        lit = {r.id: r.cell for r in
               similarity.assign_cells(
                   df, cents, "v", out_col="cell", dist_fn=similarity._sq_dist
               ).collect()}
        got = {r.id: r.cell for r in
               similarity.assign_cells(df, cents, "v", out_col="cell").collect()}
        assert lit == got == {1: 1, 2: 1, 3: 1, 4: 1, 5: None, 6: None}


def test_probe_cells_ranking_and_dirty_rows(spark):
    """Query-side probe ranking: distances ascending, ties broken by
    lower cell id (the literal array_sort(struct(d, cell)) rule); NaN/Inf
    queries rank through the fold (all-NaN / all-Inf distances: cell
    order); dirty query vectors get a NULL list and so no probe rows —
    below and above 64 cells."""
    from phaser_spark.ops import similarity

    four = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [1.0, 0.0]]  # 4 == 1 (tie)
    rows = [
        (1, [0.9, 0.1]),   # nearest 1 (tie with 4 -> lower id first), then 2
        (2, [0.0, -1.0]),  # equidistant from 1/3/4 -> 1,3 after nothing nearer
        (3, None),
        (4, [0.5]),        # ragged
        (5, [float("nan"), 0.0]),
        (6, [0.0, float("-inf")]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    for cents in (four, _far_cells(four)):
        probed = similarity.probe_cells(df, cents, "v", 2, out_col="cells")
        out = {r.id: r.cells for r in probed.collect()}
        assert out[1] == [1, 4]
        assert out[3] is None and out[4] is None
        # query 2: dist to cell 2 is worst; cells 1/3/4 all tie -> [1, 3]
        assert out[2] == [1, 3]
        # the matmul path returned [] for these past 64 cells
        assert out[5] == [1, 2] and out[6] == [1, 2]
        exploded = probed.select("id", F.explode("cells")).collect()
        assert {r.id for r in exploded} == {1, 2, 5, 6}


def test_ivf_topk_large_k_arrow_path_matches_literal(spark):
    """Above 64 centroids ivf_topk still ranks probe cells through the
    kernel; with margin-separated data the resulting top-k equals the
    exact=True run (which pins the literal fold for the SAME centroid
    list) — the kernel loses nothing at large k (ADVICE r11)."""
    import random as _r

    from phaser_spark.ops import similarity

    rng = _r.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(400)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 10)
    cents = similarity.medoid_centroids(corpus, n_centroids=80)
    arrow = similarity.ivf_topk(
        corpus, queries, k=3, n_probe=80, centroids=cents
    )
    literal = similarity.ivf_topk(
        corpus, queries, k=3, n_probe=80, centroids=cents, exact=True
    )
    a = {(r.query_id, r.rank): r.neighbor_id for r in arrow.collect()}
    l = {(r.query_id, r.rank): r.neighbor_id for r in literal.collect()}
    assert a == l and len(a) == 30


def test_semantic_dedup_target_cell_rows_scales_cells(spark):
    """target_cell_rows applies the IVF rule (round-11 10x smoke found the
    fixed-n_cells quadratic cliff): exact replicas collapse to the
    min-id copy REGARDLESS of the quantizer (identical vectors share a
    cell and cos=1), so the auto-scaled survivor set is checkable
    without pinning the cell structure."""
    import random as _r

    from phaser_spark.ops import dedup as D

    rng = _r.Random(3)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(200)]
    rows = [
        (d * 10 + r, base[d]) for d in range(200) for r in range(5)
    ]  # 1000 vectors = 200 distinct x 5 exact copies
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D.semantic_dedup(
        df, threshold=0.9999, cell_out="cell", target_cell_rows=10
    )
    got = sorted(r.vec_id for r in out.collect())
    # survivor = lowest id of each replica family (d*10)
    assert got == [d * 10 for d in range(200)]
    # the auto rule chose ~n/target cells (>= 64 forces the arrow path)
    assert len({r.cell for r in out.collect()}) > 16
    from phaser_spark.exceptions import PhaserError

    with pytest.raises(PhaserError, match="target_cell_rows"):
        D.semantic_dedup(df, target_cell_rows=0)


def test_semantic_dedup_headline_margin_is_tie_robust():
    """The headline semantic_dedup_embeddings query assigns cells by the
    element-wise fold (the nearest-centroid kernel) against an SQL
    oracle that ranks the expanded distance ‖c‖² − 2x·c; the two can
    differ in the last ulp, so the hash check
    is only sound if NO vector sits within rounding noise of two cells.
    Pin that: at the headline configuration (target_cell_rows=6, medoid
    centroids) the min relative margin between nearest and
    second-nearest centroid is >= 1e-9 on the test corpora — ~5 orders
    of magnitude above double rounding on these 64-dim folds."""
    import duckdb
    import numpy as np

    for sf in ("0.001", "0.01"):
        pq = f"/root/testdata/sf{sf}/embeddings.parquet"
        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM '{pq}'"
        ).fetchall()
        ids = [r[0] for r in rows]
        V = np.array([r[1] for r in rows], dtype=np.float64)
        n = len(V)
        nc = max(16, min(65536, -(-n // 6)))
        assert nc > 64  # the auto rule lands past 64 cells
        cent_ids = [
            r[0]
            for r in duckdb.sql(
                f"SELECT vec_id FROM '{pq}' "
                "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id "
                f"LIMIT {nc}"
            ).fetchall()
        ]
        idx = {int(i): j for j, i in enumerate(ids)}
        C = V[[idx[int(i)] for i in cent_ids]]
        d = (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
        two = np.sort(d, axis=1)[:, :2]
        rel = (two[:, 1] - two[:, 0]) / (np.abs(two[:, 0]) + 1.0)
        assert rel.min() >= 1e-9, f"sf{sf}: tie-adjacent assignment"


def test_semantic_dedup_approx_n_skips_count(spark):
    """approx_n sizes the auto cells without the extra counting pass —
    same survivors as the counted run when the estimate matches."""
    from phaser_spark.ops import dedup as D

    rows = [(i, [float(i % 7) + 1.0, float(i % 11) + 1.0]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    counted = D.semantic_dedup(df, threshold=0.9999, target_cell_rows=4)
    approx = D.semantic_dedup(
        df, threshold=0.9999, target_cell_rows=4, approx_n=100
    )
    assert sorted(r.vec_id for r in counted.collect()) == sorted(
        r.vec_id for r in approx.collect()
    )


def test_winsorize_approx_bounds(spark):
    # exact=False switches to percentile_approx: bounds are actual data
    # values (the sketch does not interpolate), so the outlier clamps to
    # the highest in-range observation rather than an interpolated bound
    from phaser_spark.ops import quality as Q

    vals = [float(v) for v in range(1, 100)] + [10_000.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    approx = {r.id: r.v for r in Q.winsorize(df, "v", 0.01, 0.99, exact=False).collect()}
    assert approx[99] == 99.0        # outlier clamped to the p99 data value
    assert approx[0] == 1.0          # p01 data value on this input is 1.0
    assert approx[50] == vals[50]    # middle untouched
    assert len(approx) == 100


# --- one-pass column profiler --------------------------------------------


def test_profile_shapes_and_values(spark):
    import datetime

    from phaser_spark.ops import profile as P

    df = spark.createDataFrame(
        [
            (1, 10.0, "a", True, datetime.date(2024, 1, 1)),
            (2, 20.0, "b", False, datetime.date(2024, 6, 1)),
            (3, None, "a", True, None),
        ],
        "id long, v double, s string, flag boolean, d date",
    )
    rows = P.profile(df, approx_distinct=False).collect()
    got = {(r.column, r.metric): (r.value_num, r.value_str) for r in rows}
    assert got[("id", "n_rows")] == (3.0, None)
    assert got[("v", "n_nulls")] == (1.0, None)
    assert abs(got[("v", "null_ratio")][0] - 1 / 3) < 1e-12
    assert got[("v", "n_distinct")] == (2.0, None)
    assert got[("v", "mean")] == (15.0, None)
    assert got[("s", "min")] == (None, "a")
    assert got[("s", "max")] == (None, "b")
    assert got[("flag", "n_true")] == (2.0, None)
    assert got[("d", "min")] == (None, "2024-01-01")
    # ordering is deterministic: by declaration, column-major
    ords = [r.ord for r in rows]
    assert ords == sorted(ords)
    # ONE aggregation pass over one scan, no Python on the row path
    from phaser_spark.plan import plan_summary

    s = plan_summary(P.profile(df, ["id", "v", "s"]))
    assert s["python_evals"] == 0


def test_profile_validation_and_approx(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import profile as P

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(PhaserError):
        P.profile(df, ["nope"])
    # HLL default: exact at tiny cardinality, and crucially NO Expand
    # node — exact multi-column distincts multiply every input row by
    # the number of distinct aggregates (K+1 corpus copies at 100 TB)
    from phaser_spark.plan import plan_text

    rows = P.profile(df).collect()
    got = {(r.column, r.metric): r.value_num for r in rows}
    assert got[("id", "n_distinct")] == 1.0
    wide = spark.createDataFrame([(1, 2.0, "x")], "a long, b double, c string")
    assert "Expand" not in plan_text(P.profile(wide))
    assert "Expand" in plan_text(P.profile(wide, approx_distinct=False))


# --- distributed k-means -------------------------------------------------


def test_kmeans_fit_separates_clusters(spark):
    # two tight blobs; k=2 from ANY reasonable init must converge so each
    # centroid sits on a blob mean and assignment separates the blobs
    rows = [(i, [10.0 + (i % 3) * 0.1, 0.0]) for i in range(6)] + [
        (i, [0.0, 5.0 + (i % 3) * 0.1]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(df, k=2, iters=3)
    assert len(cents) == 2
    assigned = similarity.assign_cells(
        df.withColumn("v", F.col("embedding")), cents, "v", out_col="cell"
    )
    got = {r.vec_id: r.cell for r in assigned.collect()}
    blob_a = {got[i] for i in range(6)}
    blob_b = {got[i] for i in range(6, 12)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    # centroid of the x-blob is the decimal-exact mean 10.1
    xc = [c for c in cents if c[0] > 5][0]
    assert abs(xc[0] - 10.1) < 1e-9 and xc[1] == 0.0


def test_kmeans_fit_empty_cell_carries_over(spark):
    # k=3 over 2 distinct points: one centroid never gets members and
    # must keep its init value (no re-seeding, deterministic)
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    init = [[0.0, 0.0], [1.0, 1.0], [50.0, 50.0]]
    cents = similarity.kmeans_fit(df, k=3, iters=2, init_centroids=init)
    assert cents[2] == [50.0, 50.0]
    assert cents[0] == [0.0, 0.0] and cents[1] == [1.0, 1.0]


def test_canonicalize_url(spark):
    from phaser_spark.ops import web

    cases = [
        # scheme/host lowercased, default port stripped, fragment dropped
        ("HTTPS://Example.COM:443/Path/X#frag", "https://example.com/Path/X"),
        # non-default port kept
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        # tracking params dropped, survivors sorted, '?' rebuilt
        ("http://e.com/p?utm_source=x&b=2&a=1", "http://e.com/p?a=1&b=2"),
        # all params tracking -> query gone entirely
        ("http://e.com/p?utm_a=1&gclid=z", "http://e.com/p"),
        ("http://e.com/p?fbclid=1&z=9#x", "http://e.com/p?z=9"),
        # no scheme -> passthrough
        ("not a url", "not a url"),
        ("http://E.com", "http://e.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r.c for r in df.select(web.canonicalize_url(F.col("u")).alias("c")).collect()]
    assert got == [want for _, want in cases]


# --- behavioral analytics: funnel + cohort retention ---------------------


def test_funnel_ordered_progression(spark):
    import datetime as dt

    from phaser_spark.ops import behavior

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes in order
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "buy"),
        # u2 out of order: buy before click -> stops at stage 1... then
        # a later click advances to 2; no buy AFTER the click
        (2, T(1), "view"), (2, T(2), "buy"), (2, T(3), "click"),
        # u3 only views; plus an ignored unrelated type
        (3, T(1), "view"), (3, T(2), "error"),
        # u4 same-timestamp tie must NOT advance (strict >)
        (4, T(5), "view"), (4, T(5), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = behavior.funnel(df, "user_id", "ts", "event_type", ["view", "click", "buy"])
    got = {r.user_id: (r.stages_completed, r.completed) for r in out.collect()}
    assert got[1] == (3, True)
    assert got[2] == (2, False)
    assert got[3] == (1, False)
    assert got[4] == (1, False)

    rep = behavior.funnel_report(
        df, "user_id", "ts", "event_type", ["view", "click", "buy"]
    )
    counts = {r.step: (r.step_name, r.n_users) for r in rep.collect()}
    assert counts[1] == ("view", 4)
    assert counts[2] == ("click", 2)
    assert counts[3] == ("buy", 1)


def test_funnel_report_emits_zero_stages(spark):
    """Stages no user reached must report n_users=0 — a funnel chart
    needs one row per declared step, and conversion-rate consumers
    divide by the prior step's row."""
    import datetime as dt

    from phaser_spark.ops import behavior

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    rep = behavior.funnel_report(
        df, "user_id", "ts", "event_type", ["view", "cart", "buy"]
    ).collect()
    assert [(r.step, r.step_name, r.n_users) for r in rep] == [
        (1, "view", 1),
        (2, "cart", 0),
        (3, "buy", 0),
    ]


def test_asof_join_string_tiebreak(spark):
    """A string/uuid tiebreak column must work (ANSI mode would crash a
    cast-to-long) and break equal-ts ties deterministically."""
    import datetime as dt

    from phaser_spark.ops.relational import asof_join

    T = dt.datetime
    left = spark.createDataFrame(
        [(10, T(2024, 1, 1, 0, 30))], "k long, lts timestamp"
    )
    right = spark.createDataFrame(
        [
            (10, T(2024, 1, 1, 0, 0), "uuid-b", 2.0),
            (10, T(2024, 1, 1, 0, 0), "uuid-a", 1.0),  # same ts: 'a' < 'b'
        ],
        "k long, rts timestamp, rid string, val double",
    )
    out = asof_join(
        left, right, "k", "lts", "rts",
        right_cols=["rid", "val"], right_tiebreak="rid",
    ).collect()
    # the LAST row in (ts, tiebreak asc) order wins the as-of carry
    assert out[0].rid == "uuid-b"


def test_fuzzy_same_named_columns_get_suffix(spark):
    from phaser_spark.ops.relational import fuzzy_join, fuzzy_match_values

    l = spark.createDataFrame([(1, "kathryn")], "id long, name string")
    r = spark.createDataFrame([(9, "katheryn")], "id long, name string")
    vals = fuzzy_match_values(l, r, "name", "name", max_dist=2)
    assert vals.columns == ["name", "name_right", "edit_distance", "n_left", "n_right"]
    assert vals.select("name").collect()[0][0] == "kathryn"  # unambiguous
    rows = fuzzy_join(l, r, "id", "name", "id", "name", max_dist=2).collect()
    assert rows[0].asDict() == {
        "id": 1, "name": "kathryn", "id_right": 9,
        "name_right": "katheryn", "edit_distance": 1,
    }


def test_boilerplate_null_id_and_clean_passthrough(spark):
    from phaser_spark.ops import cleaning

    rows = [
        (None, "important null-id text\nfooter"),
        (1, "  indented\n\nkeep structure"),
        (2, "unique two\nfooter"),
        (3, "unique three\nfooter"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in cleaning.remove_boilerplate_lines(df, min_doc_freq=3).collect()
    }
    # NULL doc_id keeps its (cleaned) text — not silently emptied
    assert out[None] == ("important null-id text", 1)
    # a doc with no boilerplate passes through byte-identical
    assert out[1] == ("  indented\n\nkeep structure", 0)
    # NULL text stays NULL
    assert out[4] == (None, 0)
    assert out[2] == ("unique two", 1)


def test_cohort_retention_weekly(spark):
    import datetime as dt

    from phaser_spark.ops import behavior

    rows = [
        # cohort week of Jan 1 (Monday): u1 active wk0 + wk1, u2 wk0 only
        (1, dt.datetime(2024, 1, 2, 10)), (1, dt.datetime(2024, 1, 9, 10)),
        (2, dt.datetime(2024, 1, 3, 10)),
        # cohort week of Jan 8: u3 active wk0 + wk2
        (3, dt.datetime(2024, 1, 10, 10)), (3, dt.datetime(2024, 1, 22, 10)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = behavior.cohort_retention(df, "user_id", "ts", period="week")
    got = {
        (r.cohort.date().isoformat(), r.period_offset): (r.n_active, r.n_cohort, r.retention)
        for r in out.collect()
    }
    assert got[("2024-01-01", 0)] == (2, 2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 2, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert got[("2024-01-08", 2)] == (1, 1, 1.0)
    assert ("2024-01-08", 1) not in got


def test_sessionize_gap_rule(spark):
    import datetime as dt

    from phaser_spark.ops import behavior

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base), (1, base + dt.timedelta(minutes=10)),          # session 1
        (1, base + dt.timedelta(minutes=50)),                     # gap > 30m -> 2
        (2, base),                                                 # own user
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = behavior.sessionize(df, "user_id", "ts", gap_seconds=1800)
    got = {(r.user_id, r.ts.minute): r.session_id for r in out.collect()}
    assert got[(1, 0)] == 1 and got[(1, 10)] == 1 and got[(1, 50)] == 2
    assert got[(2, 0)] == 1


def test_rolling_time_agg(spark):
    import datetime as dt

    from phaser_spark.ops import relational

    d = lambda n: dt.datetime(2024, 1, 1 + n)  # noqa: E731
    rows = [
        (1, d(0), 10.0), (1, d(3), 20.0), (1, d(8), 30.0),  # d8: d3+d8 in 7d
        (2, d(0), 5.0),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    out = relational.rolling_time_agg(df, "u", "ts", "v", window="7 days")
    got = {(r.u, r.ts.day): (r.rolling_n, r.rolling_sum, r.rolling_mean) for r in out.collect()}
    assert got[(1, 1)] == (1, 10.0, 10.0)
    assert got[(1, 4)] == (2, 30.0, 15.0)
    assert got[(1, 9)] == (2, 50.0, 25.0)   # day-1 event fell out of the window
    assert got[(2, 1)] == (1, 5.0, 5.0)

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        relational.rolling_time_agg(df, "u", "ts", "v", window="2 fortnights")


def test_fuzzy_join_matches_all_pairs_reference(spark):
    import itertools

    from phaser_spark.ops import relational

    words = [
        "spark", "sparks", "spork", "sprk", "catalyst", "catalist",
        "ab", "abc", "abd", "xyz", "completely", "completly",
    ]
    left = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "lid long, lval string"
    )
    right = spark.createDataFrame(
        [(100 + i, w) for i, w in enumerate(words)], "rid long, rval string"
    )
    out = relational.fuzzy_join(left, right, "lid", "lval", "rid", "rval", max_dist=2)
    got = {(r.lid, r.rid): r.edit_distance for r in out.collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, 100 + j): lev(a, b)
        for (i, a), (j, b) in itertools.product(enumerate(words), repeat=2)
        if lev(a, b) <= 2
    }
    assert got == want  # blocking is SOUND: every true pair found, none extra


def test_standardize_grouped(spark):
    import statistics

    from phaser_spark.ops import quality as Q

    rows = [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "a"), (4, 9.0, "b"),
            (5, 9.0, "b"), (6, 7.0, "c")]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    out = Q.standardize(df, "v", group_by=["g"])
    got = {r.id: r.v_z for r in out.collect()}
    sd = statistics.stdev([1.0, 2.0, 3.0])
    assert abs(got[1] - (1.0 - 2.0) / sd) < 1e-12
    assert abs(got[2]) < 1e-12
    assert got[4] is None and got[5] is None   # zero variance -> NULL
    assert got[6] is None                      # n <= ddof -> NULL
    assert "v" in out.columns and out.count() == 6

    # id-scale escape hatch: scores identical without the forced broadcast
    shuffled = Q.standardize(df, "v", group_by=["g"], broadcast_bounds=False)
    assert {r.id: r.v_z for r in shuffled.collect()} == got


# --- SCD Type 2 + referential integrity ----------------------------------


def test_scd2_apply_versions(spark):
    import datetime as dt

    from phaser_spark.ops import scd

    D = lambda m, d: dt.datetime(2024, m, d)  # noqa: E731
    # bootstrap from an initial load
    init = spark.createDataFrame(
        [(1, "alice", D(1, 1)), (2, "bob", D(1, 1))],
        "id long, name string, ts timestamp",
    )
    dim = scd.scd2_apply(None, init, "id", ["name"], "ts")
    rows = {(r.id, r.name): (r.valid_to, r.is_current) for r in dim.collect()}
    assert rows[(1, "alice")] == (None, True) and rows[(2, "bob")] == (None, True)

    # one batch with: a change, a no-op, a two-step chain, and a new key
    ups = spark.createDataFrame(
        [
            (1, "alicia", D(2, 1)),   # change
            (2, "bob", D(2, 1)),      # no-op (same attrs)
            (1, "alice2", D(3, 1)),   # second change, same batch
            (3, "carol", D(2, 15)),   # new key
        ],
        "id long, name string, ts timestamp",
    )
    dim2 = scd.scd2_apply(dim, ups, "id", ["name"], "ts")
    got = {
        (r.id, r.name): (r.valid_from, r.valid_to, r.is_current)
        for r in dim2.collect()
    }
    assert got[(1, "alice")] == (D(1, 1), D(2, 1), False)
    assert got[(1, "alicia")] == (D(2, 1), D(3, 1), False)
    assert got[(1, "alice2")] == (D(3, 1), None, True)
    assert got[(2, "bob")] == (D(1, 1), None, True)       # no empty version
    assert got[(3, "carol")] == (D(2, 15), None, True)
    assert len(got) == 5

    # closed history passes through a THIRD merge untouched
    ups3 = spark.createDataFrame([(3, "carole", D(4, 1))],
                                 "id long, name string, ts timestamp")
    dim3 = scd.scd2_apply(dim2, ups3, "id", ["name"], "ts")
    got3 = {(r.id, r.name): r.is_current for r in dim3.collect()}
    assert got3[(1, "alice")] is False and got3[(3, "carole")] is True
    assert len(got3) == 6


def test_referential_integrity(spark):
    from phaser_spark.ops import scd

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    orphans = scd.referential_integrity(child, parent, {"fk": "pk"})
    assert {r.id for r in orphans.collect()} == {3}  # NULL fk is not an orphan


def test_mask_columns(spark):
    from phaser_spark.ops import pii

    df = spark.createDataFrame(
        [("alice", "4111222233334444", "x"), ("alice", "99", "y"), (None, None, None)],
        "name string, card string, note string",
    )
    out = pii.mask_columns(
        df, {"name": "sha256", "card": "last4", "note": "redact"}, salt="s1"
    )
    rows = out.collect()
    a, b, nul = rows[0], rows[1], rows[2]
    assert len(a.name) == 64 and a.name == b.name        # equality-preserving
    assert a.card == "************4444"
    assert b.card == "****"                              # <=4 chars: fully masked
    assert a.note == "[MASKED]" and b.note == "[MASKED]"
    assert nul.name is None and nul.card is None and nul.note is None
    # different salt -> different token
    out2 = pii.mask_columns(df, {"name": "sha256"}, salt="s2")
    assert out2.collect()[0].name != a.name
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pii.mask_columns(df, {"name": "rot13"})


def test_repeat_to_budget_epochs(spark):
    from phaser_spark.ops import sampling

    rows = (
        [(f"lo{i}", 10, "lo") for i in range(3)]        # T=30
        + [(f"cap{i}", 10, "cap") for i in range(2)]    # T=20
        + [(f"sm{i}", 10, "small") for i in range(4)]   # T=40
        + [("dropme", 10, "unlisted")]
    )
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long, lang string")
    out = sampling.repeat_to_budget(
        df, "doc_id", "n_tokens", "lang",
        budgets={"lo": 100, "cap": 1000, "small": 5},
        max_epochs=4,
    ).collect()
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    # lo: 3 full epochs (90 tokens) + a 1-doc partial epoch = 100 tokens
    lo = by_lang["lo"]
    assert len(lo) == 10 and sum(r.n_tokens for r in lo) == 100
    assert sorted({r.epoch for r in lo}) == [0, 1, 2, 3]
    assert sum(1 for r in lo if r.epoch == 3) == 1  # the partial epoch
    # cap: budget wants 50 epochs, max_epochs clamps to 4 full copies
    cap = by_lang["cap"]
    assert len(cap) == 8 and sorted({r.epoch for r in cap}) == [0, 1, 2, 3]
    # small: budget under one epoch -> plain prefix selection at epoch 0
    sm = by_lang["small"]
    assert len(sm) == 1 and sm[0].epoch == 0
    # unlisted group with no default budget is dropped
    assert "unlisted" not in by_lang
    # NULL group is dropped, not crashed on (no NULL literal-map key)
    df_null = df.union(
        spark.createDataFrame([("n0", 10, None)], df.schema)
    )
    with_null = sampling.repeat_to_budget(
        df_null, "doc_id", "n_tokens", "lang",
        budgets={"lo": 100}, max_epochs=4,
    ).collect()
    assert all(r.lang == "lo" for r in with_null)
    # deterministic: identical output every run
    again = sorted(
        (r.doc_id, r.lang, r.epoch)
        for r in sampling.repeat_to_budget(
            df, "doc_id", "n_tokens", "lang",
            budgets={"lo": 100, "cap": 1000, "small": 5}, max_epochs=4,
        ).collect()
    )
    assert again == sorted((r.doc_id, r.lang, r.epoch) for r in out)


def test_repeat_to_budget_caps_group_collect(spark):
    """An id-like group_col must raise BEFORE a corpus-distinct ships to
    the driver (limit-before-collect, the drift_monitor_step pattern) —
    round-10 verdict nit."""
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [(f"d{i}", 10, f"id{i}") for i in range(50)],
        "doc_id string, n_tokens long, g string",
    )
    with pytest.raises(PhaserError, match="more than 10 distinct groups"):
        sampling.repeat_to_budget(
            df, "doc_id", "n_tokens", "g", budgets=100, max_groups=10
        )
    with pytest.raises(ValueError, match="max_groups >= 1"):
        sampling.repeat_to_budget(
            df, "doc_id", "n_tokens", "g", budgets=100, max_groups=0
        )
    # raising the cap explicitly restores the run
    ok = sampling.repeat_to_budget(
        df, "doc_id", "n_tokens", "g", budgets=20, max_groups=100
    )
    assert ok.count() == 100  # 2 epochs × 50 single-doc groups


def test_token_budget_select_best_first(spark):
    from phaser_spark.ops import sampling

    # scores 0.00..0.99; lengths all 10; budget 50 -> top-5 scores kept
    rows = [(f"d{i}", 10, "en", i / 100.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long, lang string, q double")
    out = sampling.token_budget_select(
        df, "doc_id", "n_tokens", "lang", {"en": 50},
        buckets=8, score_col="q",
    )
    got = {r.doc_id for r in out.collect()}
    assert got == {f"d{i}" for i in range(95, 100)}  # the five best
    # out-of-range scores clamp instead of crashing; naive equivalence
    # across a bucket boundary (scores straddling bands)
    rows2 = [("a", 30, "x", 1.7), ("b", 30, "x", 0.9), ("c", 30, "x", 0.89),
             ("d", 30, "x", -4.0)]
    df2 = spark.createDataFrame(rows2, "doc_id string, n_tokens long, lang string, q double")
    out2 = sampling.token_budget_select(
        df2, "doc_id", "n_tokens", "lang", {"x": 70}, buckets=4, score_col="q"
    )
    assert {r.doc_id for r in out2.collect()} == {"a", "b", "c"}


def test_correlations_one_pass(spark):
    from phaser_spark.ops import profile as P

    df = spark.createDataFrame(
        [(1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, None), (4.0, 8.0, -4.0)],
        "x double, y double, z double",
    )
    rows = {(r.col_a, r.col_b): (r.n, r.corr) for r in P.correlations(df, ["x", "y", "z"]).collect()}
    n, c = rows[("x", "y")]
    assert n == 4 and abs(c - 1.0) < 1e-12          # perfectly linear
    n, c = rows[("x", "z")]
    assert n == 3 and abs(c + 1.0) < 1e-12          # pairwise deletion
    # zero variance -> NULL
    df2 = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], "x double, y double")
    r = P.correlations(df2, ["x", "y"]).collect()[0]
    assert r.corr is None
    from phaser_spark.plan import plan_summary

    # one aggregation pass: no Python, no joins, a single partial/final
    # agg exchange pair at most (local relation plans no file scan node)
    s = plan_summary(P.correlations(df, ["x", "y", "z"]))
    assert s["python_evals"] == 0 and s["nested_loops"] == 0
    assert s["exchanges"] <= 1


def test_histogram_bins(spark):
    from phaser_spark.ops import profile as P

    vals = [-5.0, 0.0, 1.0, 5.0, 9.9, 10.0, 42.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = {r.bin: (r.bin_lo, r.bin_hi, r.n) for r in P.histogram(df, "v", 2, 0.0, 10.0).collect()}
    assert rows[-1][2] == 1                 # underflow
    assert rows[0] == (0.0, 5.0, 2)         # [0,5): 0.0, 1.0
    assert rows[1] == (5.0, 10.0, 2)        # [5,10): 5.0, 9.9
    assert rows[2][2] == 2                  # overflow: 10.0, 42.0


# --- time-series resampling with gap fill --------------------------------


def test_resample_time_gapfill(spark):
    import datetime as dt

    from phaser_spark.ops import timeseries

    T = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        ("a", T(0), 1.0), ("a", T(0), 2.0),   # hour 0: two events
        ("a", T(3), 5.0),                     # hours 1-2 empty (the gap)
        ("b", T(2), 9.0),                     # b spans a single hour
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = timeseries.resample_time(
        df, "ts", "1 hour", "k",
        aggs={"n": F.count(F.lit(1)), "total": F.sum("v")},
        fill="zero",
    )
    got = {(r.k, r.bucket_ts.hour): (r.n, r.total) for r in out.collect()}
    assert got[("a", 0)] == (2, 3.0)
    assert got[("a", 1)] == (0, 0)            # gap materialized
    assert got[("a", 2)] == (0, 0)
    assert got[("a", 3)] == (1, 5.0)
    assert got[("b", 2)] == (1, 9.0)
    assert len(got) == 5                      # b has no grid outside its span

    # forward fill carries the last gauge value across the gap
    ff = timeseries.resample_time(
        df, "ts", "1 hour", "k", aggs={"last_v": F.max("v")}, fill="ffill"
    )
    gotf = {(r.k, r.bucket_ts.hour): r.last_v for r in ff.collect()}
    assert gotf[("a", 1)] == 2.0 and gotf[("a", 2)] == 2.0 and gotf[("a", 3)] == 5.0

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        timeseries.resample_time(df, "ts", "2 fortnights", "k")


def test_resample_time_null_group_kept(spark):
    """A NULL group value is a real group: its buckets must carry its
    real aggregates, not fill-zeros from a null-unsafe grid join."""
    import datetime as dt

    from phaser_spark.ops import timeseries

    rows = [
        (None, dt.datetime(2024, 1, 1, 0, 10), 1.0),
        (None, dt.datetime(2024, 1, 1, 0, 40), 2.0),
        ("a", dt.datetime(2024, 1, 1, 0, 5), 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = timeseries.resample_time(
        df, "ts", "1 hour", "k", aggs={"n": F.count(F.lit(1))}, fill="zero"
    )
    got = {(r.k, r.bucket_ts.hour): r.n for r in out.collect()}
    assert got[(None, 0)] == 2  # NULL group's real count, not zero-filled
    assert got[("a", 0)] == 1


def test_token_budget_null_scores_excluded_from_budget(spark):
    from phaser_spark.ops import sampling

    # 5 docs of 10 tokens with scores + 3 NULL-score docs of 10 tokens;
    # budget 30 -> the 3 best scored docs are kept; NULL-score docs are
    # excluded AND must not eat into the budget accounting
    rows = [(f"d{i}", 10, "en", i / 10.0) for i in range(5)]
    rows += [(f"n{i}", 10, "en", None) for i in range(3)]
    df = spark.createDataFrame(
        rows, "doc_id string, n_tokens long, lang string, q double"
    )
    out = sampling.token_budget_select(
        df, "doc_id", "n_tokens", "lang", {"en": 30}, buckets=4, score_col="q"
    )
    got = {r.doc_id for r in out.collect()}
    assert got == {"d4", "d3", "d2"}  # full budget spent on scored docs


def test_target_encode_all_null_category_shrinks_to_prior(spark):
    from phaser_spark.ops.features import target_encode

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("x", None), ("x", None)],
        "cat string, y double",
    )
    got = {
        (r.cat, r.y): r.cat_enc
        for r in target_encode(df, "cat", "y", smoothing=10.0).collect()
    }
    prior = 2.0  # mean of the non-null targets
    # all-NULL category: (0 + 10*prior)/(0+10) = prior, NOT NULL
    assert got[("x", None)] == prior


def test_split_by_hash_null_keys_and_validation(spark):
    import pytest as _pytest

    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [(str(i),) for i in range(50)] + [(None,)] * 5, "id string"
    )
    out = sampling.split_by_hash(df, "id", {"train": 0.5}, remainder="rest")
    by_split: dict = {}
    for r in out.collect():
        by_split.setdefault(r.split, []).append(r.id)
    # NULL keys get a NULL split label — never dumped into 'rest'
    assert len(by_split.get(None, [])) == 5
    assert all(i is not None for i in by_split.get("rest", []))
    with _pytest.raises(ValueError, match="at least one"):
        sampling.split_by_hash(df, "id", {}, remainder="all")
    with _pytest.raises(ValueError, match="in \\(0, 1\\]"):
        sampling.split_by_hash(df, "id", {"a": -0.2, "b": 1.2})


def test_resample_time_pre_1970_floors_not_truncates(spark):
    """Negative epochs: floor(epoch/step), not cast-toward-zero — a
    1969-12-31 23:30 event belongs to the 23:00 bucket of 1969-12-31,
    not to 1970-01-01 00:00 (the one-interval-late truncation bug)."""
    import datetime as dt

    from phaser_spark.ops import timeseries

    rows = [
        ("a", dt.datetime(1969, 12, 31, 23, 30), 1.0),
        ("a", dt.datetime(1970, 1, 1, 0, 15), 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = timeseries.resample_time(
        df, "ts", "1 hour", "k", aggs={"n": F.count(F.lit(1))}, fill="zero"
    )
    got = {r.bucket_ts: r.n for r in out.collect()}
    assert got[dt.datetime(1969, 12, 31, 23, 0)] == 1
    assert got[dt.datetime(1970, 1, 1, 0, 0)] == 1
    assert len(got) == 2  # adjacent buckets, no phantom third


def test_asof_join_forward_and_tolerance(spark):
    import datetime as dt

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, T(10)), (1, T(40)), (2, T(5))], "k long, lt timestamp"
    )
    right = spark.createDataFrame(
        [(1, T(12), "a"), (1, T(50), "b"), (2, T(0), "c")],
        "k long, rt timestamp, tag string",
    )
    fwd = relational.asof_join(left, right, "k", "lt", "rt", direction="forward")
    got = {(r.k, r.lt.minute): r.tag for r in fwd.collect()}
    assert got[(1, 10)] == "a"      # nearest LATER right row
    assert got[(1, 40)] == "b"
    assert got[(2, 5)] is None      # no later row for k=2

    # tolerance: backward match farther than 15 min nulls out, row kept
    tol = relational.asof_join(
        left, right, "k", "lt", "rt", direction="backward",
        tolerance="15 minutes",
    )
    gott = {(r.k, r.lt.minute): r.tag for r in tol.collect()}
    assert gott[(1, 40)] is None    # nearest back is 28 min away > 15 -> NULL
    assert gott[(1, 10)] is None    # no earlier right row at all
    assert gott[(2, 5)] == "c"      # 5 min back, within tolerance
    assert len(gott) == 3           # rows kept either way

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        relational.asof_join(left, right, "k", "lt", "rt", direction="sideways")


def test_merge_intervals(spark):
    rows = [
        ("a", 1, 5), ("a", 3, 9), ("a", 9, 12),   # chain: overlap + touching
        ("a", 20, 25),                             # separate island
        ("a", 21, 22),                             # nested inside previous
        ("b", 0, 1),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    out = relational.merge_intervals(df, "k", "s", "e")
    got = {(r.k, r.s): (r.e, r.n_merged) for r in out.collect()}
    assert got[("a", 1)] == (12, 3)
    assert got[("a", 20)] == (25, 2)
    assert got[("b", 0)] == (1, 1)
    assert len(got) == 3
    # min_gap merges islands closer than the gap
    out2 = relational.merge_intervals(df, "k", "s", "e", min_gap=10)
    got2 = {(r.k, r.s): r.e for r in out2.collect()}
    assert got2[("a", 1)] == 25  # 20 - 12 = 8 < 10 -> merged


def test_neighbor_join_matches_brute_force(spark):
    import itertools
    import random

    from phaser_spark.ops import spatial

    rng = random.Random(7)
    pts = [(i, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(80)]
    df = spark.createDataFrame(pts, "id long, x double, y double")
    r = 1.5
    out = spatial.neighbor_join(df, "id", "x", "y", r)
    got = {(p.id_a, p.id_b) for p in out.collect()}
    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    }
    assert got == want and len(want) > 50   # dense enough to be non-vacuous
    # negative coordinates cross cell boundaries correctly
    df2 = spark.createDataFrame(
        [(1, -0.1, -0.1), (2, 0.1, 0.1), (3, 5.0, 5.0)], "id long, x double, y double"
    )
    out2 = spatial.neighbor_join(df2, "id", "x", "y", 1.0)
    assert {(p.id_a, p.id_b) for p in out2.collect()} == {(1, 2)}


def test_profile_per_group(spark):
    from phaser_spark.ops import profile as P

    df = spark.createDataFrame(
        [("d1", 1.0), ("d1", None), ("d2", 3.0)], "day string, v double"
    )
    rows = P.profile(df, ["v"], group_by=["day"]).collect()
    got = {(r.day, r.metric): r.value_num for r in rows}
    assert got[("d1", "n_rows")] == 2.0 and got[("d1", "n_nulls")] == 1.0
    assert got[("d2", "null_ratio")] == 0.0 and got[("d2", "mean")] == 3.0
    # group columns are excluded from the default profile set
    assert {r.column for r in P.profile(df, group_by=["day"]).collect()} == {"v"}
    # exact distincts per group take the r12 SPLIT plan (distinct slots
    # aggregated separately from the regular ones, joined back on the
    # group row null-safely) — values must be indistinguishable from the
    # single-aggregation form, including for a NULL group key
    dfn = spark.createDataFrame(
        [("d1", 1.0), ("d1", 1.0), ("d1", 2.0), (None, 7.0), (None, None)],
        "day string, v double",
    )
    ex = {(r.day, r.metric): r.value_num
          for r in P.profile(dfn, ["v"], group_by=["day"],
                             approx_distinct=False).collect()}
    assert ex[("d1", "n_distinct")] == 2.0 and ex[("d1", "n_rows")] == 3.0
    assert ex[(None, "n_distinct")] == 1.0 and ex[(None, "n_nulls")] == 1.0
    assert ex[(None, "mean")] == 7.0


# --- feature engineering: target encoding + quantile binning -------------


def test_target_encode(spark):
    from phaser_spark.ops import features

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("c", None), (None, 5.0)],
        "cat string, y double",
    )
    # plain: category mean; NULL cat is a real category; prior = mean(1,3,10,5)
    out = {("%s" % r.cat): r.cat_enc for r in features.target_encode(df, "cat", "y").collect()}
    assert out["a"] == 2.0 and out["b"] == 10.0 and out["None"] == 5.0
    # c has no non-null target -> falls to prior
    assert abs(out["c"] - 4.75) < 1e-12

    # smoothing shrinks toward the prior
    sm = {r.cat: r.cat_enc for r in features.target_encode(df, "cat", "y", smoothing=2.0).collect() if r.cat == "b"}
    assert abs(sm["b"] - (10.0 + 2 * 4.75) / 3.0) < 1e-12

    # leave-one-out: a's rows see only the OTHER row's target
    loo = {
        (r.cat, r.y): r.cat_enc
        for r in features.target_encode(df, "cat", "y", leave_one_out=True).collect()
    }
    assert loo[("a", 1.0)] == 3.0 and loo[("a", 3.0)] == 1.0
    assert abs(loo[("b", 10.0)] - 4.75) < 1e-12  # singleton -> prior


def test_quantile_bin(spark):
    from phaser_spark.ops import features

    vals = [float(v) for v in range(1, 101)]
    df = spark.createDataFrame([(v,) for v in vals] + [(None,)], "v double")
    out = {r.v: r.v_bin for r in features.quantile_bin(df, "v", 4).collect()}
    assert out[1.0] == 0 and out[30.0] == 1 and out[60.0] == 2 and out[100.0] == 3
    assert out[None] is None
    # per-group boundaries
    df2 = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g2", 100.0), ("g2", 200.0)], "g string, v double"
    )
    out2 = {(r.g, r.v): r.v_bin for r in features.quantile_bin(df2, "v", 2, group_by=["g"]).collect()}
    assert out2[("g1", 1.0)] == 0 and out2[("g1", 2.0)] == 1
    assert out2[("g2", 100.0)] == 0 and out2[("g2", 200.0)] == 1


def test_chunk_documents(spark):
    docs = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7"),   # 7 words
            (2, "a  b"),                    # multiple spaces collapse
            (3, ""),                        # no chunks
            (4, None),                      # no chunks
        ],
        "doc_id long, text string",
    )
    out = text.chunk_documents(docs, chunk_words=3, overlap_words=0)
    got = {(r.doc_id, r.chunk_id): (r.chunk, r.n_chunk_words) for r in out.collect()}
    assert got[(1, 0)] == ("w1 w2 w3", 3)
    assert got[(1, 1)] == ("w4 w5 w6", 3)
    assert got[(1, 2)] == ("w7", 1)          # remainder chunk
    assert got[(2, 0)] == ("a b", 2)
    assert {k[0] for k in got} == {1, 2}      # empty/NULL yield nothing

    # overlap: stride 2, windows of 3 -> starts at 0,2,4,6
    ov = text.chunk_documents(docs.filter("doc_id = 1"), chunk_words=3, overlap_words=1)
    chunks = [r.chunk for r in ov.orderBy("chunk_id").collect()]
    assert chunks == ["w1 w2 w3", "w3 w4 w5", "w5 w6 w7"]

    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        text.chunk_documents(docs, chunk_words=3, overlap_words=3)


def test_funnel_conversion_window(spark):
    import datetime as dt

    from phaser_spark.ops import behavior

    T = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes but the buy is outside the 30-min window of the
        # FIRST view (greedy anchor at minute 0)
        (1, T(0), "view"), (1, T(10), "click"), (1, T(45), "buy"),
        # u2 completes fully inside the window
        (2, T(0), "view"), (2, T(5), "click"), (2, T(25), "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = behavior.funnel(
        df, "user_id", "ts", "event_type", ["view", "click", "buy"],
        within="30 minutes",
    )
    got = {r.user_id: r.stages_completed for r in out.collect()}
    assert got[1] == 2 and got[2] == 3
    # without the window both complete
    out2 = behavior.funnel(df, "user_id", "ts", "event_type", ["view", "click", "buy"])
    assert {r.user_id: r.stages_completed for r in out2.collect()} == {1: 3, 2: 3}


def test_sample_n_per_group(spark):
    from phaser_spark.ops import sampling

    df = spark.createDataFrame(
        [(f"d{i}", ["en", "fr"][i % 2]) for i in range(20)] + [("solo", "de")],
        "doc_id string, lang string",
    )
    out = sampling.sample_n_per_group(df, "doc_id", "lang", 3)
    counts = {r.lang: r.c for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert counts == {"en": 3, "fr": 3, "de": 1}   # quota, capped by group size
    # deterministic: identical selection across runs
    again = sampling.sample_n_per_group(df, "doc_id", "lang", 3)
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}


def test_sample_n_per_group_two_level_matches_single_window(spark):
    """The md5-bucketed two-level quota selection keeps EXACTLY the rows
    the naive row_number window keeps — on a skewed frame where one
    group holds most rows — and its rank window is partitioned by
    (group, bucket), never the group alone."""
    from pyspark.sql import Window

    from phaser_spark.ops import sampling
    from phaser_spark.plan import plan_text

    rows = [(f"en{i}", "en") for i in range(900)]
    rows += [(f"de{i}", "de") for i in range(90)]
    rows += [("one", "fr"), (None, "fr"), ("x", None)]  # null key + null group
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    for n in (1, 7, 40, 2000):
        got = {
            (r.lang, r.doc_id)
            for r in sampling.sample_n_per_group(df, "doc_id", "lang", n).collect()
        }
        w = Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
        want = {
            (r.lang, r.doc_id)
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .collect()
        }
        assert got == want, f"n={n}"
    plan = plan_text(sampling.sample_n_per_group(df, "doc_id", "lang", 5))
    for line in plan.splitlines():
        if "row_number" in line and "windowspecdefinition" in line:
            assert "__sn_bkt__" in line, f"full-group rank in plan: {line}"


def test_resample_global_alignment_and_grouped_histogram(spark):
    import datetime as dt

    from phaser_spark.ops import profile as P
    from phaser_spark.ops import timeseries

    T = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    df = spark.createDataFrame(
        [("a", T(0), 1.0), ("a", T(1), 2.0), ("b", T(3), 9.0)],
        "k string, ts timestamp, v double",
    )
    # per-key: b gets a single bucket; global: every key spans hours 0-3
    per = timeseries.resample_time(df, "ts", "1 hour", "k")
    assert per.filter("k = 'b'").count() == 1
    glob = timeseries.resample_time(df, "ts", "1 hour", "k", align="global")
    assert glob.filter("k = 'b'").count() == 4
    assert glob.filter("k = 'b' AND n > 0").count() == 1

    rows = {(r.k, r.bin): r.n for r in P.histogram(df, "v", 2, 0.0, 10.0, group_by=["k"]).collect()}
    assert rows[("a", 0)] == 2 and rows[("b", 1)] == 1


def test_collapse_rare(spark):
    from phaser_spark.ops import features

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None)], "id long, c string"
    )
    out = {r.id: r.c for r in features.collapse_rare(df, "c", min_count=2).collect()}
    assert out[1] == "a" and out[4] == "OTHER" and out[5] is None
    # out_col preserves the original
    out2 = features.collapse_rare(df, "c", 2, out_col="c2")
    assert {r.c for r in out2.collect()} == {"a", "b", None}


def test_web_domain_extraction_edges(spark):
    """Round-7 sweep regressions: trailing punctuation, userinfo, and
    uppercase schemes must not corrupt or miss the domain key."""
    from phaser_spark.ops import web

    df = spark.createDataFrame(
        [
            ("visit https://evil.com, it rocks",),
            ("link https://user:pw@evil.com/x here",),
            ("HTTP://evil.com/x uppercase",),
            (None,),
            ("clean text no urls",),
        ],
        ["text"],
    )
    doms = [r[0] for r in df.select(web.domains_in(F.col("text")).alias("d")).collect()]
    assert doms[0] == ["evil.com"]
    assert doms[1] == ["evil.com"]
    assert doms[2] == ["evil.com"]
    # NULL text passes the block filter instead of silently vanishing
    kept = web.filter_blocked_domains(df, "text", ["evil.com"]).collect()
    texts = {r["text"] for r in kept}
    assert None in texts and "clean text no urls" in texts and len(kept) == 2


def test_canonicalize_url_userinfo(spark):
    from phaser_spark.ops import web

    df = spark.createDataFrame(
        [("https://u:p@a.com:443/x",), ("https://u:q@b.com/x",)], ["u"]
    )
    out = [r[0] for r in df.select(web.canonicalize_url(F.col("u"))).collect()]
    # different hosts must NOT collapse to one key; default port stripped
    assert out == ["https://a.com/x", "https://b.com/x"]


def test_scd2_same_ts_ties_deterministic(spark):
    """Two surviving same-ts updates: version order (and which row is
    current) must be deterministic on the attribute tiebreak."""
    from phaser_spark.ops.scd import scd2_apply

    ups = spark.createDataFrame(
        [("k", "B", 5), ("k", "A", 5)], "key string, attr string, ts long"
    )
    outs = [
        sorted(
            scd2_apply(None, ups, "key", ["attr"], "ts").collect(),
            key=lambda r: (r["attr"],),
        )
        for _ in range(3)
    ]
    for o in outs[1:]:
        assert [tuple(r) for r in o] == [tuple(r) for r in outs[0]]
    current = [r["attr"] for r in outs[0] if r["is_current"]]
    assert current == ["B"]  # attrs sort A < B, so B is the later version


def test_scd2_null_is_current_preserved(spark):
    from phaser_spark.ops.scd import scd2_apply

    dim = spark.createDataFrame(
        [("k", "old", 1, 3, None), ("k", "cur", 3, None, True)],
        "key string, attr string, valid_from long, valid_to long, is_current boolean",
    )
    ups = spark.createDataFrame([("k", "new", 7)], "key string, attr string, ts long")
    out = scd2_apply(dim, ups, "key", ["attr"], "ts").collect()
    # the NULL-is_current row lands in the closed slice, not lost
    assert {r["attr"] for r in out} == {"old", "cur", "new"}


def test_profile_mean_decimal_overflow_consistent(spark):
    """|v| >= 1e30 cannot ride the decimal accumulator: it must leave the
    numerator AND denominator together (old code: sum drops it, count
    keeps it -> mean 1.0 for [1e30, 2.0])."""
    from phaser_spark.ops.profile import profile

    df = spark.createDataFrame([(1e30,), (2.0,)], ["v"])
    rows = {r["metric"]: r for r in profile(df, ["v"]).collect()}
    assert rows["mean"]["value_num"] == 2.0


def test_correlations_huge_magnitudes_and_dupes(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.profile import correlations

    # epoch-nanosecond-scale values: squares overflow decimal(38,8); the
    # pair must be excluded consistently -> perfect correlation on the
    # remaining clean pairs, not garbage
    df = spark.createDataFrame(
        [(1.7e18, 1.0), (1.0, 1.0), (2.0, 2.0), (3.0, 3.0)], ["a", "b"]
    )
    r = correlations(df, ["a", "b"]).collect()[0]
    assert abs(r["corr"] - 1.0) < 1e-9
    with pytest.raises(PhaserError, match="duplicate"):
        correlations(df, ["a", "b", "a"])


def test_connected_components_null_endpoints_ignored(spark):
    from phaser_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (None, 5), (3, None)], "src long, dst long"
    )
    out = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert None not in out
    assert out[1] == out[2] == 1


# --- distribution drift (PSI) ----------------------------------------------


def test_distribution_drift_categorical_matches_hand_psi(spark):
    import math

    from phaser_spark.ops.quality import distribution_drift

    ref = spark.createDataFrame([("a",)] * 60 + [("b",)] * 40, "v string")
    cur = spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 60 + [(None,)] * 10, "v string"
    )
    rows = {r.bucket: r for r in distribution_drift(ref, cur, "v").collect()}
    assert set(rows) == {"a", "b", "__null__"}
    s, k = 0.5, 3
    for bucket, n_ref, n_cur in (("a", 60, 30), ("b", 40, 60), ("__null__", 0, 10)):
        p = (n_ref + s) / (100 + s * k)
        q = (n_cur + s) / (100 + s * k)
        want = (q - p) * math.log2(q / p)
        got = rows[bucket]
        assert got.n_ref == n_ref and got.n_cur == n_cur
        assert abs(got.psi - want) < 1e-5, bucket
        assert abs(got.p_ref - p) < 1e-5 and abs(got.p_cur - q) < 1e-5
    # identical distributions -> every contribution ~0
    same = distribution_drift(ref, ref, "v").collect()
    assert all(abs(r.psi) < 1e-9 for r in same)


def test_distribution_drift_nan_isolated_not_poisoning(spark):
    """NaN must neither poison the reference min/max (NaN sorts above
    every double in Spark, so an unguarded max() collapses the whole
    histogram into bucket 0) nor silently clamp into cell 0 on the
    current side — it gets its own visible bucket."""
    from phaser_spark.ops.quality import distribution_drift

    nan = float("nan")
    ref = spark.createDataFrame([(float(i),) for i in range(100)] + [(nan,)],
                                "v double")
    cur = spark.createDataFrame([(nan,), (50.0,), (None,)], "v double")
    rows = {r.bucket: r for r in distribution_drift(ref, cur, "v", bins=4).collect()}
    # reference range is 0..99 despite the NaN: 50.0 lands mid-histogram
    assert rows["2"].n_cur == 1
    assert rows["__nan__"].n_ref == 1 and rows["__nan__"].n_cur == 1
    assert rows["__null__"].n_cur == 1
    # all four real cells exist with ~25 reference rows each
    assert all(20 <= rows[str(b)].n_ref <= 30 for b in range(4))


def test_distribution_drift_infinity_isolated_not_poisoning(spark):
    """r9 sweep: one ±Infinity in the REFERENCE would make the bin span
    infinite and silently collapse every row into bin 0 (the same class
    as the NaN poisoning, through arithmetic instead of ordering); the
    bounds must be finite-only, with ±Inf data rows clamping into the
    edge cells like any out-of-range value."""
    from phaser_spark.ops.quality import distribution_drift

    inf = float("inf")
    ref = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,), (inf,)], "v double"
    )
    cur = spark.createDataFrame([(1.5,), (inf,), (-inf,)], "v double")
    rows = {r.bucket: r for r in distribution_drift(ref, cur, "v", bins=3).collect()}
    # reference span is 1..4 despite the Inf: 1.5 lands in cell 0,
    # +Inf clamps to the last cell, -Inf to cell 0
    assert rows["0"].n_cur == 2 and rows["2"].n_cur == 1
    # the top cell holds 3.0, 4.0 (span-edge) and the clamped ref Inf row
    assert rows["2"].n_ref == 3
    assert sum(r.n_ref for r in rows.values()) == 5


def test_contamination_report_per_benchmark(spark):
    """One row per benchmark including zero-hit ones; counts agree with
    decontaminate(flag_only=True) run per benchmark."""
    from phaser_spark.ops import cleaning

    base = "the quick brown fox jumps over the lazy dog every single day"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " with extra trailing words attached"),
            (3, "completely different text about spark physical planning"
                " and adaptive query execution at scale"),
        ],
        "doc_id long, text string",
    )
    bench_a = spark.createDataFrame([(base,)], "text string")
    bench_b = spark.createDataFrame(
        [("nothing here overlaps with any training document at all ever",)],
        "text string",
    )
    got = {
        r.benchmark: r
        for r in cleaning.contamination_report(
            docs, {"a": bench_a, "b": bench_b}, n=8
        ).collect()
    }
    assert set(got) == {"a", "b"}
    assert got["a"].n_contaminated == 2 and got["a"].n_docs == 3
    assert abs(got["a"].contamination_rate - 2 / 3) < 1e-12
    assert got["b"].n_contaminated == 0 and got["b"].contamination_rate == 0.0
    # agreement with the per-benchmark flag form
    flagged = cleaning.decontaminate(docs, bench_a, n=8, flag_only=True)
    assert flagged.filter("contaminated").count() == got["a"].n_contaminated
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError, match="at least one"):
        cleaning.contamination_report(docs, {})


def test_drift_monitor_step_warns_and_fails_by_threshold(spark):
    """Phase-step drift alarm: a matching batch passes silently, a
    moderately shifted one records a WARNING, a hard shift raises and
    stops the pipeline; empty batches are skipped."""
    import pytest as _pytest

    from phaser_spark import Phase
    from phaser_spark.context import Context
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.quality import drift_monitor_step

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    step = drift_monitor_step(ref, "v", bins=10, warn_above=0.1, fail_above=1.0)

    def run(df):
        ctx = Context(spark=spark)
        Phase(name="D", steps=[step], context=ctx).run(df)
        return [e for e in ctx.driver_events if "drift" in str(e)]

    # same distribution: silent
    same = spark.createDataFrame([(float(i % 100),) for i in range(200)], "v double")
    assert run(same) == []
    # moderate shift (half the rows move to the upper bins -> PSI(ln)
    # ~0.28, between warn_above and fail_above): warning, rows flow
    shifted = spark.createDataFrame(
        [(float(i % 100),) for i in range(100)]
        + [(float(50 + i % 50),) for i in range(100)],
        "v double",
    )
    events = run(shifted)
    assert events and any("PSI" in str(e) for e in events)
    # hard shift beyond fail_above: raises
    hard = spark.createDataFrame([(1e6,)] * 100, "v double")
    with _pytest.raises(PhaserError, match="fail_above"):
        ctx = Context(spark=spark)
        Phase(name="D", steps=[step], context=ctx).run(hard)
    # empty frame: skipped, no warning, no error
    empty = spark.createDataFrame([], "v double")
    assert run(empty) == []
    # threshold sanity validation
    with _pytest.raises(PhaserError, match="fail_above"):
        drift_monitor_step(ref, "v", bins=4, warn_above=0.5, fail_above=0.1)


def test_distribution_drift_rejects_id_like_categorical(spark):
    """Categorical mode must fail loudly above max_categories — an
    id-like column funnels a corpus-distinct through one task and its
    per-value PSI is smoothing noise."""
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.quality import distribution_drift

    ref = spark.createDataFrame([(str(i),) for i in range(50)], "v string")
    cur = spark.createDataFrame([(str(i),) for i in range(40, 90)], "v string")
    with _pytest.raises(Exception, match="distinct values"):
        distribution_drift(ref, cur, "v", max_categories=10).collect()
    # at/below the cap the same data passes (90 distinct <= 100)
    assert len(distribution_drift(ref, cur, "v", max_categories=100).collect()) == 90
    with _pytest.raises(PhaserError, match="max_categories"):
        distribution_drift(ref, cur, "v", max_categories=1)


def test_distribution_drift_binned_clamps_and_validates(spark):
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops.quality import distribution_drift

    ref = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    # current values far beyond the reference range clamp into end bins
    cur = spark.createDataFrame(
        [(-500.0,), (1e6,), (50.0,), (None,)], "v double"
    )
    rows = {r.bucket: r for r in distribution_drift(ref, cur, "v", bins=4).collect()}
    assert rows["0"].n_cur == 1  # -500 clamped low
    assert rows["3"].n_cur == 1  # 1e6 clamped high
    assert rows["__null__"].n_cur == 1 and rows["__null__"].n_ref == 0
    assert rows["2"].n_cur == 1  # 50.0 lands mid-range
    assert sum(r.n_ref for r in rows.values()) == 100
    with _pytest.raises(PhaserError):
        distribution_drift(ref, cur, "v", bins=1)
    with _pytest.raises(PhaserError):
        distribution_drift(ref, cur, "v", smoothing=0.0)
    empty = spark.createDataFrame([(None,)], "v double")
    with _pytest.raises(PhaserError, match="no finite"):
        distribution_drift(empty, cur, "v", bins=4)


# --- best-fit-decreasing packing -------------------------------------------


def test_pack_best_fit_respects_capacity_and_is_deterministic(spark):
    from pyspark.sql import functions as SF

    from phaser_spark.ops import sampling

    rows = [(f"d{i}", (i * 37) % 900 + 50, ["en", "fr"][i % 2]) for i in range(120)]
    rows += [("huge", 5000, "en"), ("znull", None, "fr"), ("zneg", -3, "en")]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long, lang string")
    out = sampling.pack_best_fit(
        df, "doc_id", "n_tokens", capacity=1024, partition_col="lang", buckets=4
    )
    got = out.collect()
    # junk rows excluded; every usable row got exactly one bin
    assert {r.doc_id for r in got} == {f"d{i}" for i in range(120)} | {"huge"}
    # no bin exceeds capacity except single-item oversize bins
    fill = (
        out.groupBy("lang", "bin_id")
        .agg(SF.sum("n_tokens").alias("tot"), SF.count("*").alias("n"))
        .collect()
    )
    for r in fill:
        assert r.tot <= 1024 or r.n == 1, (r.lang, r.bin_id, r.tot, r.n)
    # oversize item sits alone
    huge_bin = next(r for r in got if r.doc_id == "huge").bin_id
    assert sum(1 for r in got if r.lang == "en" and r.bin_id == huge_bin) == 1
    # deterministic under any input layout
    got2 = sampling.pack_best_fit(
        df.repartition(7, "doc_id"), "doc_id", "n_tokens",
        capacity=1024, partition_col="lang", buckets=4,
    ).collect()
    assert {(r.doc_id, r.bin_id) for r in got2} == {(r.doc_id, r.bin_id) for r in got}
    # BFD never uses MORE bins than naive arrival-order next-fit packing
    for lang in ("en", "fr"):
        items = [r.n_tokens for r in got if r.lang == lang and r.doc_id != "huge"]
        bins_bfd = len({r.bin_id for r in got if r.lang == lang and r.doc_id != "huge"})
        nf_bins, slack = 1, 1024
        for n in items:  # arbitrary arrival order is fine for an upper bound
            if n <= slack:
                slack -= n
            else:
                nf_bins += 1
                slack = 1024 - n
        assert bins_bfd <= nf_bins
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.pack_best_fit(df, "doc_id", "n_tokens", capacity=0)


# --- EWMA smoothing ---------------------------------------------------------


def test_ewma_matches_python_replay(spark):
    from phaser_spark.ops.timeseries import ewma

    rows = []
    vals = {"g1": [10.0, 20.0, None, 40.0, 5.0, 60.0], "g2": [100.0, 50.0]}
    for g, series in vals.items():
        for i, v in enumerate(series):
            rows.append((g, i, v))
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = ewma(df, "v", "t", alpha=0.5, window=3, partition_by="g")
    got = {(r.g, r.t): r.v_ewma for r in out.collect()}

    def replay(series, alpha=0.5, window=3):
        # frame = the last `window` ROWS; NULLs inside the frame are
        # excluded from the weighted mean (the documented semantics)
        import math

        res = []
        for i in range(len(series)):
            tail = [v for v in series[max(0, i - window + 1): i + 1] if v is not None]
            if not tail:
                res.append(None)
                continue
            ws = [alpha ** k for k in range(len(tail) - 1, -1, -1)]
            val = sum(x * c for x, c in zip(tail, ws)) / sum(ws)
            res.append(math.floor(val * 1e6) / 1e6)
        return res

    for g, series in vals.items():
        want = replay(series)
        for i, expect in enumerate(want):
            assert got[(g, i)] == expect or (
                expect is not None and abs(got[(g, i)] - expect) < 1e-9
            ), (g, i, got[(g, i)], expect)
    # newest point dominates as alpha -> 0; window caps the history
    import pytest as _pytest

    from phaser_spark.exceptions import PhaserError

    with _pytest.raises(PhaserError):
        ewma(df, "v", "t", alpha=1.0)
    with _pytest.raises(PhaserError):
        ewma(df, "v", "t", window=0)


@pytest.mark.skipif(
    not multimodal._HAS_PIL, reason="no image codec in this environment"
)
def test_decode_and_featurize_real_decode_with_pil(spark):
    """Guarded real-decode path: with PIL present, real_decode=True
    extracts actual image features (dims, band count, channel means) and
    NULLs features for undecodable payloads instead of failing the task."""
    import io as _io

    from PIL import Image

    buf = _io.BytesIO()
    Image.new("RGB", (6, 4), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [(1, png), (2, b"\x00\x01not an image")], "id int, content binary"
    )
    out = {r["id"]: r for r in
           multimodal.decode_and_featurize(df, real_decode=True).collect()}
    feats = out[1]["features"]
    assert feats[:3] == [6.0, 4.0, 3.0]          # width, height, bands
    assert abs(feats[3] - 1.0) < 1e-9            # all-red: R mean = 1
    assert feats[4] == 0.0 and feats[5] == 0.0   # G/B means
    assert out[2]["features"] is None            # corrupt: NULL, no crash
    assert out[2]["content_sha256"]              # hash still computed


def test_decode_and_featurize_stub_parity_unchanged(spark):
    """The codec-less default path is byte-identical to the documented
    deterministic stub (repeated sha256) — the oracle contract for
    multimodal_binary depends on it."""
    import hashlib as _hl

    df = spark.createDataFrame([(1, b"hello")], "id int, content binary")
    (row,) = multimodal.decode_and_featurize(df).collect()
    h = _hl.sha256(b"hello").digest()
    out = []
    while len(out) < multimodal.FEATURE_DIM:
        out.extend(b / 255.0 for b in h)
        h = _hl.sha256(h).digest()
    assert row["features"] == out[: multimodal.FEATURE_DIM]


# --- product quantization (PQ) --------------------------------------------


def test_pq_encode_known_codes_ties_and_dirty_rows(spark):
    """Deterministic encode: known nearest sub-centroids, FIRST-min tie
    rule, NULL codes for dirty vectors."""
    from phaser_spark.ops import pq

    # m=2 subspaces of dim 2; sub-centroids on the axes
    book = [
        [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]],   # code 3 duplicates code 1
        [[0.0, 0.0], [5.0, 5.0]],
    ]
    rows = [
        (1, [0.9, 0.1, 4.0, 4.0]),   # sub1 -> code 1 (tie w/ 3: first wins)
        (2, [0.0, 2.0, 0.1, 0.1]),   # sub1 -> code 2, sub2 -> code 1
        (3, None),
        (4, [1.0, 0.0]),             # ragged
        (5, [1.0, None, 0.0, 0.0]),  # null element
        # edge semantics pinned against the literal expression the
        # kernel reproduces (probed on the literal path):
        (6, [0.9, 0.1, 4.0, 4.0, 99.0]),     # longer: extra dims ignored
        (7, [float("nan"), 0.1, 4.0, 4.0]),  # NaN sub1 -> code 1
        (8, [float("inf"), 0.1, 0.1, 0.1]),  # Inf sub1 -> code 1
        (9, [0.9, 0.1, 4.0]),                # partial subspace -> NULL
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.codes for r in
           pq.pq_encode(df, book, out_col="codes").collect()}
    assert got[1] == [1, 2]
    assert got[2] == [2, 1]
    assert got[3] is None and got[4] is None and got[5] is None
    assert got[6] == [1, 2]
    assert got[7] == [1, 2]
    assert got[8] == [1, 1]
    assert got[9] is None


def test_pq_encode_literal_and_arrow_paths_agree(spark):
    """A codebook replicated five times (k_sub 32 → 160) encodes to the
    same integer codes as the original: identical leading sub-centroids
    win by the first-min rule at any codebook size."""
    import random as _r

    from phaser_spark.ops import pq

    rng = _r.Random(6)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    book = pq.pq_train(df, m=4, k_sub=32, method="kmeans", seed=1)
    lit = {r.vec_id: r.c for r in
           pq.pq_encode(df, book, out_col="c").collect()}
    # identical leading sub-centroids -> identical codes (first-min)
    big = [sub + sub + sub + sub + sub for sub in book]
    arrow = {r.vec_id: r.c for r in
             pq.pq_encode(df, big, out_col="c").collect()}
    assert all(arrow[i] == lit[i] for i in lit)


def test_pq_topk_recovers_clustered_neighbors(spark):
    """On subspace-aligned clustered data (every vector sits near a
    sub-centroid combination) ADC ranking recovers the exact L2 top-k —
    and the output carries the deterministic rank/tiebreak contract."""
    import random as _r

    import numpy as np

    from phaser_spark.ops import pq

    rng = _r.Random(13)
    centers = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    rows, combo = [], {}
    for i in range(120):
        c1, c2 = rng.randrange(3), rng.randrange(3)
        combo[i] = (c1, c2)
        vec = [
            centers[c1][0] + rng.gauss(0, 0.05),
            centers[c1][1] + rng.gauss(0, 0.05),
            centers[c2][0] + rng.gauss(0, 0.05),
            centers[c2][1] + rng.gauss(0, 0.05),
        ]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    book = pq.pq_train(df, m=2, k_sub=16, method="kmeans", seed=3)
    queries = df.filter(F.col("vec_id") < 8)
    got = pq.pq_topk(df, queries, book, k=3).collect()
    # within a tight cluster every member quantizes to the same codes, so
    # ADC cannot order INSIDE it (ties break by id) — the correctness
    # contract is cluster-level: every returned neighbor shares the
    # query's (sub1, sub2) cluster combination
    for r in got:
        assert combo[r.neighbor_id] == combo[r.query_id], r
    ranks = sorted(r.rank for r in got if r.query_id == 0)
    assert ranks == [1, 2, 3]
    import numpy as np  # noqa: F401 (parity with other similarity tests)


def test_pq_train_validates_dims(spark):
    from phaser_spark.exceptions import PhaserError
    from phaser_spark.ops import pq

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(PhaserError, match="not divisible"):
        pq.pq_train(df, m=2)


def test_ivfpq_topk_no_nested_loop_and_matches_pq(spark):
    """IVFADC: the candidate meet stays an equi-join on the cell id
    (never a nested loop), the ADC scoring fold is pure Catalyst
    (zip_with table lookups), and with n_probe = n_centroids (no
    pruning) the result equals brute-force pq_topk on the same codebook.
    Cell routing, PQ codes and probe tables are Arrow passes through
    the nearest-centroid kernel (bit-identical to the literal fold —
    see tests/test_nearest_kernel.py), so MapInArrow nodes are
    expected where BatchEval-free literal projections used to be."""
    import random as _r

    from phaser_spark.ops import pq

    rng = _r.Random(21)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 6)
    book = pq.pq_train(df, m=4, k_sub=16)
    out = pq.ivfpq_topk(
        df, q, k=4, n_centroids=8, n_probe=8, codebook=book
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    # the scoring fold itself stays JVM-side: row-at-a-time Python never
    # appears, only the batched Arrow encode/probe passes
    assert "BatchEvalPython" not in plan
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    brute = pq.pq_topk(df, q, book, k=4)
    want = {(r.query_id, r.rank): r.neighbor_id for r in brute.collect()}
    assert got == want and len(got) == 24
