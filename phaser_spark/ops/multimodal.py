"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata (engine addition; BASELINE.json north star).

The Spark-side machinery — schema conventions, Arrow-batched decode UDFs,
partition-sized batch processing — is real and tested; the *codec* step is
stubbed (this environment ships no image/audio libraries).  Each stub is
deterministic so pipelines are testable end-to-end, and raises
``NotImplementedError`` when a real decode is requested without the
optional dependency.

Schema convention:

    content   binary                      -- the raw bytes
    meta      struct<kind string, mime string, width int, height int,
                     duration_ms long>    -- typed, filterable metadata

Partitioning note: binary payloads dominate row size; keep
``spark.sql.files.maxPartitionBytes`` at its default 128 MB and let the
scan split on row groups — never ``collect`` content columns.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 16

try:  # optional real decoder
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def attach_binary(df: DataFrame, text_col: str, kind: str = "image") -> DataFrame:
    """Testing helper: wrap a text column as a binary payload + metadata
    (stands in for reading real media files at the same schema)."""
    content = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.lit(kind).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        (F.length(content) % 1024).cast("int").alias("width"),
        (F.length(content) % 768).cast("int").alias("height"),
        F.length(content).cast("long").alias("duration_ms"),
    )
    return df.withColumn("content", content).withColumn("meta", meta)


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in feature vector: bytes of repeated sha256."""
    out: list[float] = []
    seed = payload or b""
    h = hashlib.sha256(seed).digest()
    while len(out) < dim:
        out.extend(b / 255.0 for b in h)
        h = hashlib.sha256(h).digest()
    return out[:dim]


def _real_image_features(payload: bytes, dim: int = FEATURE_DIM):
    """Real decode (PIL, executor-side): [width, height, n_bands,
    per-RGB-channel means, 3×3 grayscale grid] padded/truncated to
    ``dim``.  Deterministic (NEAREST resampling, integer pixel data).
    Returns None for undecodable payloads — corrupt media is a data
    fact, not a job failure."""
    import io as _io

    from PIL import Image

    try:
        img = Image.open(_io.BytesIO(payload or b""))
        img.load()
    except Exception:
        return None
    w, h = img.size
    feats = [float(w), float(h), float(len(img.getbands()))]
    rgb = img.convert("RGB")
    for band in rgb.split():
        data = list(band.getdata())
        feats.append(sum(data) / (255.0 * max(len(data), 1)))
    grid = img.convert("L").resize((3, 3), Image.NEAREST)
    feats.extend(p / 255.0 for p in grid.getdata())
    feats = feats[:dim]
    return feats + [0.0] * (dim - len(feats))


def decode_and_featurize(
    df: DataFrame,
    content_col: str = "content",
    real_decode: bool = False,
    batch_size_hint: int = 256,
) -> DataFrame:
    """Decode binary payloads and extract a feature vector per row in one
    ``mapInArrow`` pass (bytes never leave the executor; every other
    column passes through as Arrow, and existing ``features`` /
    ``content_sha256`` columns are replaced in place).

    ``real_decode=True`` decodes with PIL when it is importable (probed
    at module load) — undecodable payloads get NULL features, never a
    task failure — and raises ``NotImplementedError`` when no codec
    exists in the environment; the default path produces deterministic
    fake features so the distributed plumbing is exercised end-to-end
    even in codec-less sandboxes."""
    if real_decode and not _HAS_PIL:
        raise NotImplementedError(
            "real_decode=True needs an image codec (PIL); not available in "
            "this environment — the Spark plumbing below is the supported path"
        )
    # NOTE: no spread here — fanning out a small input spawns one Python
    # worker per partition, and worker startup dwarfs the decode work at
    # test scale; real media corpora arrive already split.
    from .similarity import _append_columns

    use_real = bool(real_decode and _HAS_PIL)

    def columns(batch):
        featurize = _real_image_features if use_real else _fake_features
        payloads = batch.column(content_col).to_pylist()
        return [
            [featurize(p) for p in payloads],
            [hashlib.sha256(p or b"").hexdigest() for p in payloads],
        ]

    fields = T.StructType.fromDDL("features array<double>, content_sha256 string")
    return _append_columns(df, fields, columns)


def frame_sample(
    df: DataFrame,
    content_col: str = "content",
    every_ms: int = 1000,
) -> DataFrame:
    """Explode a (fake) video payload into frame rows — one row per sampled
    timestamp, preserving the parent id columns.  The sampling grid comes
    from metadata (``duration_ms``); the frame payload is a deterministic
    slice marker (a real codec would produce decoded frames)."""
    if every_ms < 1:
        raise ValueError(f"frame_sample needs every_ms >= 1, got {every_ms}")
    frames = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest((F.col("meta.duration_ms") / every_ms).cast("int") - 1, F.lit(0)),
        ),
        lambda i: F.struct(
            (i * every_ms).cast("long").alias("ts_ms"),
            F.sha2(F.concat(F.col(content_col), i.cast("string").cast("binary")), 256).alias(
                "frame_id"
            ),
        ),
    )
    return df.withColumn("frame", F.explode(frames)).select(
        "*", F.col("frame.ts_ms").alias("frame_ts_ms"), F.col("frame.frame_id").alias("frame_id")
    ).drop("frame")


def _be_bytes(v, nbytes: int):
    """Big-endian fixed-width byte encoding of a non-negative int column."""
    return F.unhex(F.lpad(F.hex(v), 2 * nbytes, "0"))


def _le_bytes(v, nbytes: int):
    """Little-endian fixed-width byte encoding of a non-negative int col."""
    h = F.lpad(F.hex(v), 2 * nbytes, "0")
    return F.unhex(
        F.concat(*[F.substring(h, i * 2 + 1, 2) for i in range(nbytes - 1, -1, -1)])
    )


def _fill(byte: int, length):
    """``length`` (Column) copies of one byte, Catalyst-side."""
    return F.substring(F.lit(bytes([byte]) * 1024), F.lit(1), length)


def synth_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Testing helper: deterministic, SPEC-VALID container blobs derived
    from an id column — PNG (signature + IHDR + IDAT + IEND), GIF89a
    (logical screen descriptor + trailer), JPEG (COM segment of varying
    length + SOF0 + EOI, so dimension extraction must genuinely walk
    segments), canonical WAV (RIFF/fmt/data).  ``id % 7 == 3`` blobs get a
    broken trailer / wrong RIFF size (corruption-detection fixtures).
    Stands in for a real media crawl at the same schema: ``content``
    binary + ``mime`` string."""
    i = F.col(id_col).cast("long")
    w = (F.lit(16) + i % 640).cast("int")
    h = (F.lit(16) + i % 480).cast("int")
    sr = (F.lit(8000) + (i % 5) * 8000).cast("long")
    ch = (F.lit(1) + i % 2).cast("int")
    corrupt = (i % 7) == 3

    dlen = (F.lit(10) + i % 16).cast("int")  # PNG IDAT payload bytes
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),                    # signature
        F.unhex(F.lit("0000000D49484452")),                    # len 13 + IHDR
        _be_bytes(w, 4),
        _be_bytes(h, 4),
        F.unhex(F.lit("0802000000")),                          # depth/color/...
        F.unhex(F.lit("DEADBEEF")),                            # CRC (unchecked)
        _be_bytes(dlen, 4),
        F.unhex(F.lit("49444154")),                            # IDAT
        _fill(0xAB, dlen),
        F.unhex(F.lit("DEADBEEF")),
        F.when(corrupt, F.unhex(F.lit("")))                    # IEND dropped
        .otherwise(F.unhex(F.lit("0000000049454E44AE426082"))),
    )
    gif = F.concat(
        F.unhex(F.lit("474946383961")),                        # GIF89a
        _le_bytes(w, 2),
        _le_bytes(h, 2),
        F.unhex(F.lit("000000")),                              # flags/bg/ar
        _fill(0x2C, F.lit(5)),                                 # stub data
        F.when(corrupt, F.unhex(F.lit("00"))).otherwise(F.unhex(F.lit("3B"))),
    )
    com_len = (i % 32).cast("int")                             # COM payload bytes
    jpeg = F.concat(
        F.unhex(F.lit("FFD8")),                                # SOI
        F.unhex(F.lit("FFFE")),                                # COM marker
        _be_bytes(com_len + F.lit(2), 2),
        _fill(0x41, com_len),
        F.unhex(F.lit("FFC0001108")),                          # SOF0, len 17, prec
        _be_bytes(h, 2),
        _be_bytes(w, 2),
        F.unhex(F.lit("03011100021100031100")),                # 3 components
        F.when(corrupt, F.unhex(F.lit("0000"))).otherwise(F.unhex(F.lit("FFD9"))),
    )
    # kilobyte-scale data chunks so the header-derived duration
    # (data_bytes·1000/byte_rate) is a non-trivial value to cross-check
    dsize = ((F.lit(8) + i % 8) * 1000).cast("long")           # WAV data bytes
    total = F.lit(44).cast("long") + dsize                     # canonical size
    riff_field = F.when(corrupt, total - 8 + 1).otherwise(total - 8)
    wav = F.concat(
        F.unhex(F.lit("52494646")),                            # RIFF
        _le_bytes(riff_field, 4),
        F.unhex(F.lit("57415645666D7420")),                    # WAVE + 'fmt '
        _le_bytes(F.lit(16), 4),                               # fmt chunk len
        _le_bytes(F.lit(1), 2),                                # PCM
        _le_bytes(ch, 2),
        _le_bytes(sr, 4),
        _le_bytes(sr * ch * 2, 4),                             # byte rate
        _le_bytes(ch * 2, 2),                                  # block align
        _le_bytes(F.lit(16), 2),                               # bits/sample
        F.unhex(F.lit("64617461")),                            # data
        _le_bytes(dsize, 4),
        F.unhex(F.repeat(F.lit("00"), dsize.cast("int"))),     # payload
    )
    sel = i % 4
    content = (
        F.when(sel == 0, png)
        .when(sel == 1, gif)
        .when(sel == 2, jpeg)
        .otherwise(wav)
    )
    mime = (
        F.when(sel == 0, F.lit("image/png"))
        .when(sel == 1, F.lit("image/gif"))
        .when(sel == 2, F.lit("image/jpeg"))
        .otherwise(F.lit("audio/x-wav"))
    )
    return df.withColumn("content", content).withColumn("mime", mime)


# --- header-level media introspection (no codec needed) -------------------
# Format sniffing, dimension extraction, and corruption checks are pure
# byte arithmetic on the container HEADERS — a real curation need that the
# decode stub cannot cover, and fully Catalyst-expressible (whole-stage
# codegen, no Python workers, no shuffle).  A 100 TB media crawl can be
# triaged (format mix, dimension histograms, corrupt-blob quarantine)
# without ever decoding a pixel.

#: JPEG SOF markers that carry frame dimensions (ITU T.81 table B.1):
#: SOF0-3, 5-7, 9-11, 13-15 — every baseline/progressive/lossless variant.
_JPEG_SOF_MARKERS = (
    192, 193, 194, 195, 197, 198, 199, 201, 202, 203, 205, 206, 207
)
#: Standalone JPEG markers with no length field: TEM, RST0-7.
_JPEG_STANDALONE = (1,) + tuple(range(208, 216))

#: Upper bound on header segments walked before declaring "no SOF found".
#: Real-world JPEGs carry EXIF/ICC/COM segments ahead of SOF; 24 covers
#: everything short of pathological files (and the walk is O(1) per step).
JPEG_MAX_SEGMENTS = 24


def _u8(c, pos):
    """Unsigned byte at 1-based ``pos`` (int or Column) of binary col."""
    return F.conv(F.hex(F.substring(c, pos, F.lit(1))), 16, 10).cast("int")


def _be16(c, pos):
    return F.conv(F.hex(F.substring(c, pos, F.lit(2))), 16, 10).cast("int")


def _be32(c, pos):
    return F.conv(F.hex(F.substring(c, pos, F.lit(4))), 16, 10).cast("long")


def _le16(c, pos):
    return F.conv(
        F.concat(
            F.hex(F.substring(c, pos + F.lit(1), F.lit(1))),
            F.hex(F.substring(c, pos, F.lit(1))),
        ),
        16,
        10,
    ).cast("int")


def _le32(c, pos):
    return F.conv(
        F.concat(
            F.hex(F.substring(c, pos + F.lit(3), F.lit(1))),
            F.hex(F.substring(c, pos + F.lit(2), F.lit(1))),
            F.hex(F.substring(c, pos + F.lit(1), F.lit(1))),
            F.hex(F.substring(c, pos, F.lit(1))),
        ),
        16,
        10,
    ).cast("long")


def _hex_prefix(c, n: int):
    return F.hex(F.substring(c, F.lit(1), F.lit(n)))


def sniff_expr(content_col: str):
    """Column expression: container format from magic bytes — one of
    ``png/jpeg/gif/wav/webp/pdf/unknown`` (``unknown`` for NULL/short/
    unrecognized payloads).  Pure Catalyst; pairs with a declared-mime
    column for mismatch quarantine."""
    c = F.col(content_col)
    p12 = _hex_prefix(c, 12)
    return (
        F.when(c.isNull() | (F.octet_length(c) < 4), F.lit("unknown"))
        .when(p12.startswith("89504E470D0A1A0A"), F.lit("png"))
        .when(p12.startswith("FFD8FF"), F.lit("jpeg"))
        .when(
            p12.startswith("474946383761") | p12.startswith("474946383961"),
            F.lit("gif"),
        )
        .when(
            p12.startswith("52494646")
            & (F.hex(F.substring(c, F.lit(9), F.lit(4))) == "57415645"),
            F.lit("wav"),
        )
        .when(
            p12.startswith("52494646")
            & (F.hex(F.substring(c, F.lit(9), F.lit(4))) == "57454250"),
            F.lit("webp"),
        )
        .when(p12.startswith("25504446"), F.lit("pdf"))
        .otherwise(F.lit("unknown"))
    )


def sniff_format(
    df: DataFrame, content_col: str = "content", out_col: str = "format"
) -> DataFrame:
    """Add a magic-byte format column (see :func:`sniff_expr`)."""
    return df.withColumn(out_col, sniff_expr(content_col))


def _jpeg_dims_expr(content_col: str):
    """struct<width int, height int> from a JPEG SOF header via a bounded
    Catalyst segment walk (``F.aggregate`` over a constant sequence —
    state: current offset; each step hops one marker segment).  NULLs when
    no SOF marker appears within :data:`JPEG_MAX_SEGMENTS` segments or the
    stream is malformed.  No UDF: dimension extraction at scan speed."""
    c = F.col(content_col)
    n = F.octet_length(c)

    def step(acc, _):
        off = acc["off"]
        done = (
            acc["w"].isNotNull()
            | (acc["bad"] == 1)
            | (off + F.lit(8) > n)  # not enough bytes for marker+len+dims
        )
        b1 = _u8(c, off)
        mk = _u8(c, off + F.lit(1))
        seglen = _be16(c, off + F.lit(2))
        is_sof = mk.isin(list(_JPEG_SOF_MARKERS))
        is_standalone = mk.isin(list(_JPEG_STANDALONE))
        # SOS (FFDA) starts entropy-coded data, EOI (FFD9) ends the file:
        # either before SOF means dimensions are not recoverable here.
        is_stop = mk.isin([216, 217]) | (mk == 218)
        stepped = (
            F.when(
                (b1 != 255) | is_stop | (seglen < 2),
                F.struct(
                    off.alias("off"),
                    acc["w"].alias("w"),
                    acc["h"].alias("h"),
                    F.lit(1).alias("bad"),
                ),
            )
            .when(
                is_sof,
                F.struct(
                    off.alias("off"),
                    _be16(c, off + F.lit(7)).alias("w"),
                    _be16(c, off + F.lit(5)).alias("h"),
                    acc["bad"].alias("bad"),
                ),
            )
            .when(
                is_standalone,
                F.struct(
                    (off + F.lit(2)).alias("off"),
                    acc["w"].alias("w"),
                    acc["h"].alias("h"),
                    acc["bad"].alias("bad"),
                ),
            )
            .otherwise(
                F.struct(
                    (off + F.lit(2) + seglen).alias("off"),
                    acc["w"].alias("w"),
                    acc["h"].alias("h"),
                    acc["bad"].alias("bad"),
                )
            )
        )
        return F.when(done, acc).otherwise(stepped)

    init = F.struct(
        F.lit(3).alias("off"),  # 1-based: first marker after FFD8
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.when(_hex_prefix(c, 3) == "FFD8FF", F.lit(0))
        .otherwise(F.lit(1))
        .alias("bad"),
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(JPEG_MAX_SEGMENTS)),
        init,
        step,
        lambda acc: F.struct(acc["w"].alias("width"), acc["h"].alias("height")),
    )


def extract_dimensions(
    df: DataFrame,
    content_col: str = "content",
    format_col: str | None = None,
) -> DataFrame:
    """Add ``width``/``height`` (images) and ``sample_rate``/``channels``
    (audio) parsed straight from container headers — PNG IHDR, GIF logical
    screen descriptor, JPEG SOF (bounded segment walk), canonical WAV fmt
    chunk.  NULL where the format carries no such field or the header is
    malformed.  Catalyst-only: runs inside whole-stage codegen with zero
    shuffle, so a full-corpus dimension profile is one scan."""
    c = F.col(content_col)
    fmt = F.col(format_col) if format_col else sniff_expr(content_col)
    n = F.octet_length(c)
    jd = _jpeg_dims_expr(content_col)
    width = (
        F.when((fmt == "png") & (n >= 24), _be32(c, F.lit(17)).cast("int"))
        .when((fmt == "gif") & (n >= 10), _le16(c, F.lit(7)))
        .when(fmt == "jpeg", jd["width"])
        .otherwise(F.lit(None).cast("int"))
    )
    height = (
        F.when((fmt == "png") & (n >= 24), _be32(c, F.lit(21)).cast("int"))
        .when((fmt == "gif") & (n >= 10), _le16(c, F.lit(9)))
        .when(fmt == "jpeg", jd["height"])
        .otherwise(F.lit(None).cast("int"))
    )
    # canonical WAV: RIFF(4) size(4) WAVE(4) 'fmt '(4) len(4) audfmt(2)
    # channels LE16 @23, sample_rate LE32 @25, byte_rate LE32 @29,
    # 'data' @37 with its LE32 size @41 — duration falls out of the
    # header too: data_bytes * 1000 / byte_rate
    is_canon_wav = (
        (fmt == "wav")
        & (n >= 36)
        & (F.hex(F.substring(c, F.lit(13), F.lit(4))) == "666D7420")
    )
    sample_rate = F.when(is_canon_wav, _le32(c, F.lit(25))).otherwise(
        F.lit(None).cast("long")
    )
    channels = F.when(is_canon_wav, _le16(c, F.lit(23))).otherwise(
        F.lit(None).cast("int")
    )
    byte_rate = _le32(c, F.lit(29))
    has_data_chunk = (
        is_canon_wav
        & (n >= 44)
        & (F.hex(F.substring(c, F.lit(37), F.lit(4))) == "64617461")
        & (byte_rate > 0)
    )
    duration_ms = F.when(
        has_data_chunk,
        (_le32(c, F.lit(41)) * F.lit(1000) / byte_rate).cast("long"),
    ).otherwise(F.lit(None).cast("long"))
    # WEBP extended header (VP8X): canvas dims as LE24 minus-one fields —
    # the common container for animation/alpha; simple VP8/VP8L frames
    # keep NULL dims (their bitstream parse is past header territory)
    is_vp8x = (
        (fmt == "webp")
        & (n >= 30)
        & (F.hex(F.substring(c, F.lit(13), F.lit(4))) == "56503858")
    )

    def _le24(pos):
        return F.conv(
            F.concat(
                F.hex(F.substring(c, F.lit(pos + 2), F.lit(1))),
                F.hex(F.substring(c, F.lit(pos + 1), F.lit(1))),
                F.hex(F.substring(c, F.lit(pos), F.lit(1))),
            ),
            16,
            10,
        ).cast("int")

    width = F.when(is_vp8x, _le24(25) + F.lit(1)).otherwise(width)
    height = F.when(is_vp8x, _le24(28) + F.lit(1)).otherwise(height)
    return (
        df.withColumn("width", width)
        .withColumn("height", height)
        .withColumn("sample_rate", sample_rate)
        .withColumn("channels", channels)
        .withColumn("duration_ms", duration_ms)
    )


# Accepted declared-mime spellings per sniffed container (IANA types
# plus the aliases that dominate real crawls); comparison is exact
# set membership, never substring containment.
_MIME_ALIASES = {
    "png": ("image/png", "image/x-png"),
    "jpeg": ("image/jpeg", "image/jpg", "image/pjpeg"),
    "gif": ("image/gif",),
    "wav": ("audio/wav", "audio/x-wav", "audio/wave", "audio/vnd.wave"),
    "webp": ("image/webp",),
    "pdf": ("application/pdf", "application/x-pdf"),
}


def _riff_size_ok(c, n):
    """RIFF size field matches the payload — tolerating the one-byte
    odd-chunk pad (size = n-8 exactly, or n-9 when the final chunk's
    payload is odd and padded)."""
    riff = _le32(c, F.lit(5))
    return (riff == (n - 8).cast("long")) | (riff == (n - 9).cast("long"))


def detect_corrupt(
    df: DataFrame,
    content_col: str = "content",
    format_col: str | None = None,
    declared_mime_col: str | None = None,
    out_col: str = "is_corrupt",
) -> DataFrame:
    """Flag structurally corrupt blobs from header/trailer invariants —
    no decode: PNG must end with the IEND chunk, JPEG with the EOI marker,
    GIF with the 0x3B trailer, WAV's RIFF size field must match the
    payload length; unknown-format and sub-12-byte blobs are corrupt; a
    ``declared_mime_col`` that disagrees with the sniffed container is
    corrupt (mislabel quarantine)."""
    c = F.col(content_col)
    fmt = F.col(format_col) if format_col else sniff_expr(content_col)
    n = F.octet_length(c)
    tail = lambda k: F.hex(F.substring(c, -k, F.lit(k)))  # noqa: E731
    structurally_ok = (
        F.when(fmt == "png", tail(8).startswith("49454E44"))  # IEND + CRC
        .when(fmt == "jpeg", tail(2) == "FFD9")
        .when(fmt == "gif", tail(1) == "3B")
        # RIFF odd-size padding: a final chunk with an odd payload
        # carries a pad byte the size field may not count, so spec-valid
        # real-world WAV/WEBP blobs land at riff_size = n-8 OR n-9
        .when(fmt == "wav", _riff_size_ok(c, n))
        .when(fmt == "webp", _riff_size_ok(c, n))
        .when(fmt == "pdf", F.lit(True))
        .otherwise(F.lit(False))  # unknown container
    )
    bad = (c.isNull() | (n < 12)) | ~structurally_ok
    if declared_mime_col is not None:
        # exact membership in a per-format alias set — substring
        # containment gets BOTH directions wrong: the common `image/jpg`
        # alias never *contains* 'jpeg' (false corrupt), while
        # `audio/wavpack` contains 'wav' (false pass)
        declared = F.lower(F.trim(F.col(declared_mime_col)))
        alias_ok = F.lit(False)
        for f, mimes in _MIME_ALIASES.items():
            alias_ok = F.when(fmt == f, declared.isin(*mimes)).otherwise(alias_ok)
        bad = bad | ~F.when(declared.isNull(), F.lit(True)).otherwise(alias_ok)
    return df.withColumn(out_col, bad)


def media_size_stats(
    df: DataFrame,
    content_col: str = "content",
    format_col: str | None = None,
    corrupt_col: str | None = None,
) -> DataFrame:
    """Per-format triage table: blob count, byte min/max/avg/total, and
    (when ``corrupt_col`` is given) the corrupt count.  One partial-agg
    shuffle to at most a handful of format rows — the 100 TB 'what is in
    this crawl' question answered by headers alone."""
    c = F.col(content_col)
    fmt = F.col(format_col) if format_col else sniff_expr(content_col)
    aggs = [
        F.count(F.lit(1)).alias("n_blobs"),
        F.min(F.octet_length(c)).alias("min_bytes"),
        F.max(F.octet_length(c)).alias("max_bytes"),
        F.avg(F.octet_length(c)).alias("avg_bytes"),
        F.sum(F.octet_length(c).cast("long")).alias("total_bytes"),
    ]
    if corrupt_col is not None:
        aggs.append(
            F.sum(F.col(corrupt_col).cast("int")).alias("n_corrupt")
        )
    return df.groupBy(fmt.alias("format")).agg(*aggs)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Metadata-level resize (real pixel work requires a codec): rewrites
    the meta struct; content passes through untouched."""
    meta = F.struct(
        F.col("meta.kind").alias("kind"),
        F.col("meta.mime").alias("mime"),
        F.lit(width).cast("int").alias("width"),
        F.lit(height).cast("int").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )
    return df.withColumn("meta", meta)
