"""Multimodal column support: image/audio/video as opaque ``binary``
columns with typed metadata, decoded/feature-extracted via Arrow-batched
Pandas UDFs.

The Spark-side plumbing here is real and tested — schemas, partitioning,
``mapInPandas`` batch shapes, deterministic outputs.  The codec step is
real for the simple formats: 24-bit BMP and P6 PPM images and PCM16 WAV
audio decode with dependency-free parsers (``decode_image`` /
``decode_audio``), exercised end-to-end by the ``multimodal_decode`` /
``multimodal_audio_decode`` queries.  Compressed codecs (PNG/JPEG/MP3/
video containers) still need external libraries (PIL when present) and
keep a ``NotImplementedError`` gate; swapping one in changes only the
decoder function — the distributed plan is unchanged.

At scale: binary payloads live in the parquet row groups (or as object-
store paths in a manifest column); feature extraction is a mapInPandas
scan — embarrassingly parallel, no shuffle — and downstream dedup /
similarity reuse the operators in ops/dedup.py and ops/similarity.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.io import cut_lineage, load_table, with_variants

FEATURE_DIM = 8

try:  # real decoders, absent in this image — plumbing degrades cleanly
    from PIL import Image  # type: ignore  # noqa: F401

    _HAVE_PIL = True
except Exception:  # pragma: no cover
    _HAVE_PIL = False


def media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the canonical multimodal table: one opaque binary payload
    per row plus typed metadata.  The driver testdata has no media files,
    so payload = utf-8 bytes of ``documents.text`` — byte-identical in
    any engine, and structurally exactly what an image-bytes column is.

    Schema: ``doc_id bigint, payload binary, byte_len bigint,
    sha256 string, mime string``.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.length(F.col("text").cast("binary")).cast("long").alias("byte_len"),
        F.sha2(F.col("text").cast("binary"), 256).alias("sha256"),
        F.lit("text/plain").alias("mime"),
    )


# --- real, dependency-free codecs -------------------------------------------
#
# BMP (24-bit uncompressed), PPM (P6), and WAV (PCM16) are simple enough
# to parse exactly with the standard library, so the decode step of the
# media pipeline runs FOR REAL on these formats — end-to-end through
# mapInPandas with a byte-exact oracle (``multimodal_decode`` /
# ``multimodal_audio_decode`` below).  Compressed codecs (PNG/JPEG/MP3/
# H.264…) genuinely need external libraries and keep the
# NotImplementedError gate (PIL path when present).


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Encode top-down RGB pixel bytes (3·width·height) as a standard
    24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up rows, BGR pixel
    order, rows padded to 4 bytes — the format as written by any paint
    program)."""
    import struct

    if len(rgb) != 3 * width * height:
        raise ValueError("rgb must be 3*width*height bytes")
    row_raw = 3 * width
    pad = (-row_raw) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(width):
            o = 3 * (y * width + x)
            row += bytes((rgb[o + 2], rgb[o + 1], rgb[o]))  # BGR
        rows.append(bytes(row) + b"\x00" * pad)
    pixel_data = b"".join(rows)
    data_offset = 14 + 40
    header = struct.pack(
        "<2sIHHI", b"BM", data_offset + len(pixel_data), 0, 0, data_offset
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    return header + dib + pixel_data


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an image payload to ``(width, height, top-down RGB
    bytes)``.  Real decoders: 24-bit uncompressed BMP (incl. bottom-up
    row order, BGR→RGB, row padding) and binary PPM (P6).  Other
    formats fall through to PIL when installed, else raise
    NotImplementedError — the gate is now confined to genuinely
    compressed codecs."""
    import struct

    if payload[:2] == b"BM":
        data_offset, = struct.unpack_from("<I", payload, 10)
        dib_size, w, h, _planes, bpp, comp = struct.unpack_from(
            "<IiiHHI", payload, 14
        )
        if dib_size < 40 or bpp != 24 or comp != 0:
            raise NotImplementedError(
                f"only 24-bit uncompressed BMP is supported (bpp={bpp}, "
                f"compression={comp})"
            )
        bottom_up = h > 0
        h = abs(h)
        stride = (3 * w + 3) // 4 * 4
        out = bytearray(3 * w * h)
        for y in range(h):
            src_row = (h - 1 - y) if bottom_up else y
            base = data_offset + src_row * stride
            for x in range(w):
                b, g, r = payload[base + 3 * x : base + 3 * x + 3]
                o = 3 * (y * w + x)
                out[o], out[o + 1], out[o + 2] = r, g, b
        return w, h, bytes(out)
    if payload[:2] == b"P6":
        # P6 header: magic, whitespace/comment-separated width height
        # maxval, single whitespace byte, then raw RGB.  Every scan
        # checks end-of-buffer: a truncated header must raise, not spin
        # (b'' is not whitespace, so an unguarded loop never advances
        # past it — a single corrupt payload would hang the executor
        # task instead of failing the row).
        pos, fields, end = 2, [], len(payload)
        while len(fields) < 3:
            while pos < end and payload[pos : pos + 1].isspace():
                pos += 1
            if pos >= end:
                raise ValueError("truncated PPM header")
            if payload[pos : pos + 1] == b"#":
                while pos < end and payload[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < end and not payload[pos : pos + 1].isspace():
                pos += 1
            if start == pos:
                raise ValueError("malformed PPM header")
            fields.append(int(payload[start:pos]))
        pos += 1  # the single whitespace after maxval
        w, h, maxval = fields
        if w <= 0 or h <= 0:
            # int() accepts a leading '-', so corrupt headers can parse
            # to negative dims; a negative 3*w*h would also defeat the
            # truncation check below (0 < negative is False)
            raise ValueError(f"malformed PPM dimensions {w}x{h}")
        if maxval != 255:
            raise NotImplementedError("only 8-bit PPM (maxval 255)")
        data = payload[pos : pos + 3 * w * h]
        if len(data) < 3 * w * h:
            raise ValueError("truncated PPM pixel data")
        return w, h, data
    if _HAVE_PIL:  # pragma: no cover - PIL absent in this image
        import io as _io

        img = Image.open(_io.BytesIO(payload)).convert("RGB")
        return img.width, img.height, img.tobytes()
    raise NotImplementedError(
        "compressed image codecs (PNG/JPEG/...) need pillow on the "
        "cluster image; BMP and PPM decode natively"
    )


def encode_wav(sample_rate: int, channels: int, samples: list[int]) -> bytes:
    """Encode interleaved int16 samples as a standard PCM16 RIFF/WAVE
    file."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate,
        channels * 2, 16,
    )
    body = b"WAVE" + fmt + struct.pack("<4sI", b"data", len(data)) + data
    return struct.pack("<4sI", b"RIFF", len(body)) + body


def decode_audio(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode an audio payload to ``(sample_rate, channels, int16
    samples)``.  Real decoder: PCM16 RIFF/WAVE (chunk walk, so extra
    chunks like LIST are skipped).  Compressed codecs raise
    NotImplementedError."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "compressed audio codecs need external libraries; "
            "PCM WAV decodes natively"
        )
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        # Chunk sizes are attacker-/corruption-controlled: a size past
        # the remaining payload must fail the row, not silently return
        # a truncated sample list (the PPM decoder's hardening, mirrored)
        if pos + 8 + size > len(payload):
            raise ValueError("truncated WAV chunk")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt_tag, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits, = struct.unpack_from("<H", body, 14)
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError(
                    f"only PCM16 WAV is supported (fmt={fmt_tag}, bits={bits})"
                )
            if channels < 1:
                raise ValueError("malformed WAV: zero channels")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    return rate, channels, samples


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real encoder: bytes → dim floats.
    Stable across engines/runs (pure function of the payload)."""
    import hashlib

    h = hashlib.sha256(payload).digest()
    return [h[i] / 255.0 for i in range(dim)]


def extract_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the real
    distributed shape for media decode: per-partition Arrow batches,
    vectorized pandas in, schema-stable pandas out, zero shuffles."""
    out_schema = (
        ", ".join(f"{c} {t}" for c, t in df.dtypes if c != payload_col)
        + ", features array<float>"
    )
    passthrough = [c for c in df.columns if c != payload_col]
    dim = FEATURE_DIM

    # NOTE: the worker function must be a CLOSURE (pickled by value) —
    # a module-level function pickles by reference and Python workers on
    # a cluster may not have dbdiff_spark importable.
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def feats_of(b: bytes) -> list[float]:
            h = hashlib.sha256(b).digest()
            return [h[i] / 255.0 for i in range(dim)]

        for pdf in it:
            feats = pdf[payload_col].map(lambda b: feats_of(bytes(b)))
            yield pdf[passthrough].assign(features=feats)

    return df.mapInPandas(batches, schema=out_schema)


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable slice of the manifest (binary column plumbing
    verified end-to-end: cast, length, content hash)."""
    return media_manifest(spark, sf_dir).select(
        "doc_id", "byte_len", "sha256", "mime"
    )


MULTIMODAL_METADATA_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       sha256(text) AS sha256,
       'text/plain' AS mime
FROM documents
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction pipeline end-to-end (mapInPandas path).  The
    fake encoder is deterministic, so even this is oracle-friendly on
    sizes; values are checked by pytest instead (the oracle cannot run
    Python)."""
    manifest = media_manifest(spark, sf_dir)
    feats = extract_features(manifest)
    return feats.select(
        "doc_id",
        F.size("features").cast("long").alias("feature_dim"),
        F.expr(
            "CAST(ROUND(aggregate(features, CAST(0 AS DOUBLE), (acc, x) -> acc + x) * 1000000) AS BIGINT)"
        ).alias("feature_sum_grid"),
    )


def _features_oracle_sql() -> str:
    """The fake encoder is pure byte arithmetic over sha256(text), so
    even the Python mapInPandas path has an exact SQL oracle: byte i of
    the digest parsed from the hex string, /255, truncated to float32
    (matching the array<float> schema), summed left-to-right like
    Spark's ``aggregate`` fold."""
    hexpos = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"
    terms = []
    for i in range(FEATURE_DIM):
        hi = hexpos.format(p=2 * i + 1)
        lo = hexpos.format(p=2 * i + 2)
        terms.append(f"CAST(CAST((16 * ({hi}) + ({lo})) / 255.0 AS FLOAT) AS DOUBLE)")
    chain = " + ".join(terms)
    return f"""
SELECT doc_id,
       CAST({FEATURE_DIM} AS BIGINT) AS feature_dim,
       CAST(ROUND(({chain}) * 1000000) AS BIGINT) AS feature_sum_grid
FROM (SELECT doc_id, sha256(text) AS h FROM documents)
"""


# --- frame sampling ---------------------------------------------------------

FRAME_BYTES = 64  # fixed-width frame grid over the payload
FRAME_STEP = 4  # keep every 4th frame


def sample_frames(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Deterministic frame sampling over opaque binary payloads: treat
    the payload as a fixed-width frame grid (a raw video buffer shape)
    and keep every ``FRAME_STEP``-th frame — ``explode(sequence(...))``
    over computed offsets, one output row per sampled frame with the
    frame bytes as a new binary column.

    This is the real distributed plumbing for video frame extraction
    (per-row explode, no shuffle, composes with ``extract_features`` for
    per-frame encoding); a real container format swaps the fixed-width
    offset arithmetic for decoder-reported keyframe offsets inside the
    same plan shape."""
    n_frames = f"greatest(0, CAST(ceil(length({payload_col}) / {FRAME_BYTES}) AS BIGINT) - 1)"
    return df.selectExpr(
        "*", f"explode(sequence(0, {n_frames}, {FRAME_STEP})) AS frame_idx"
    ).selectExpr(
        *[c for c in df.columns if c != payload_col],
        "frame_idx",
        f"substring({payload_col}, CAST(frame_idx * {FRAME_BYTES} + 1 AS INT), "
        f"{FRAME_BYTES}) AS frame",
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable frame sampling: the comparison runs over the HEX
    rendering of the payload (DuckDB cannot slice blobs; hex is
    byte-faithful at 2 chars/byte and both engines render it
    identically), hashing each sampled frame's hex with sha256."""
    m = media_manifest(spark, sf_dir)
    w = 2 * FRAME_BYTES
    return (
        m.selectExpr("doc_id", "hex(payload) AS hx", "byte_len")
        .selectExpr(
            "doc_id",
            "hx",
            f"explode(sequence(0, greatest(0, CAST(ceil(byte_len / {FRAME_BYTES}) "
            f"AS BIGINT) - 1), {FRAME_STEP})) AS frame_idx",
        )
        .selectExpr(
            "doc_id",
            "frame_idx",
            f"CAST(length(substr(hx, CAST(frame_idx * {w} + 1 AS INT), {w})) / 2 "
            "AS BIGINT) AS frame_bytes",
            f"sha2(substr(hx, CAST(frame_idx * {w} + 1 AS INT), {w}), 256) AS frame_sha",
        )
    )


MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents
),
f AS (
  SELECT doc_id, hx,
         unnest(generate_series(0, greatest(0, CAST(ceil(byte_len / {FRAME_BYTES}.0)
                AS BIGINT) - 1), {FRAME_STEP})) AS frame_idx
  FROM m
)
SELECT doc_id, frame_idx,
       CAST(length(substr(hx, CAST(frame_idx * {2 * FRAME_BYTES} + 1 AS INT),
            {2 * FRAME_BYTES})) / 2 AS BIGINT) AS frame_bytes,
       sha256(substr(hx, CAST(frame_idx * {2 * FRAME_BYTES} + 1 AS INT),
              {2 * FRAME_BYTES})) AS frame_sha
FROM f
"""


# --- grouped feature normalization (applyInPandas) ---------------------------
#
# Completes the Arrow trio: mapInPandas (stateless scan, above),
# applyInPandasWithState (streaming, streaming/cdc.py), and here the
# batch GROUPED form — per-group logic that genuinely needs the whole
# group in one pandas frame (cross-row normalization), the canonical
# applyInPandas use.  Everything stays integer (grid = digest_byte *
# 10^6 div 255, means by floor division), so even this Python path has
# an exact SQL oracle.

NORM_GRID = 1_000_000


def per_group_feature_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mean-centering of the fake features: for each source
    group, subtract the per-position integer-grid group mean and report
    each doc's centered feature sum.

    Scale shape: ONE shuffle on the group key brings each group into a
    pandas frame (Arrow batches); groups are source-sized — if a group
    can exceed executor memory, pre-aggregate the means relationally
    and broadcast them instead (that variant is the SQL oracle's
    formulation, which is exactly why the two agree)."""
    manifest = media_manifest(spark, sf_dir).select("doc_id", "payload", "mime")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    df = manifest.join(docs, "doc_id")
    dim, grid = FEATURE_DIM, NORM_GRID

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        import hashlib

        vecs = [
            [(hashlib.sha256(bytes(b)).digest()[i] * grid) // 255 for i in range(dim)]
            for b in pdf["payload"]
        ]
        n = len(vecs)
        gm = [sum(v[i] for v in vecs) // n for i in range(dim)]
        centered = [sum(v[i] - gm[i] for i in range(dim)) for v in vecs]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "n_group": n,
                "centered_sum_grid": centered,
            }
        )

    return df.groupBy("source").applyInPandas(
        norm,
        schema="doc_id bigint, source string, n_group bigint, centered_sum_grid bigint",
    )


def _group_norm_sql() -> str:
    hexpos = "strpos('0123456789abcdef', substr(h, {p}, 1)) - 1"
    byte_i = [
        f"(16 * ({hexpos.format(p=2 * i + 1)}) + ({hexpos.format(p=2 * i + 2)}))"
        for i in range(FEATURE_DIM)
    ]
    layers = "\n  UNION ALL ".join(
        f"SELECT doc_id, source, {i} AS pos, ({b} * {NORM_GRID}) // 255 AS v FROM d"
        for i, b in enumerate(byte_i)
    )
    return f"""
WITH d AS (SELECT doc_id, source, sha256(text) AS h FROM documents),
pv AS (
  {layers}
),
gm AS (
  SELECT source, pos, CAST(sum(v) // count(*) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS n_group
  FROM pv GROUP BY source, pos
)
SELECT pv.doc_id, pv.source, CAST(max(gm.n_group) AS BIGINT) AS n_group,
       CAST(sum(pv.v - gm.m) AS BIGINT) AS centered_sum_grid
FROM pv JOIN gm ON pv.source = gm.source AND pv.pos = gm.pos
GROUP BY pv.doc_id, pv.source
"""




# --- deterministic "resize" (nearest-neighbor downsample) --------------------
#
# The media-resize step of an ingest pipeline, with the pixel math
# replaced by a deterministic stand-in (this image has no codec libs —
# same policy as decode_image/_fake_features): the document text plays
# the role of a 1-D image whose "pixels" are character codes, and the
# op nearest-neighbor-resamples it to a fixed TILE_PX vector.  The
# Spark-side plumbing is the REAL shape for media work: mapInPandas
# over Arrow batches, schema-stable array<bigint> output, zero
# shuffles, spread() upstream if the source is few-files.  Swapping the
# stand-in for PIL's Image.resize changes only the closure body.

TILE_PX = 16


def resize_nearest(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Nearest-neighbor 1-D resample of each document to ``TILE_PX``
    character codes (zeros for empty docs) — mapInPandas, batch-shaped
    like a real thumbnailer."""
    out_schema = (
        ", ".join(f"{c} {t}" for c, t in df.dtypes if c != text_col)
        + ", tile array<bigint>"
    )
    passthrough = [c for c in df.columns if c != text_col]
    px = TILE_PX

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def tile_of(s: str) -> list[int]:
            n = len(s)
            if n == 0:
                return [0] * px
            return [ord(s[(i * n) // px]) for i in range(px)]

        for pdf in it:
            yield pdf[passthrough].assign(tile=pdf[text_col].map(tile_of))

    return df.mapInPandas(batches, schema=out_schema)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline end-to-end: the tile itself (joined to a string
    so the hash compare is order-exact) plus its length and sum."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tiles = resize_nearest(docs)
    return tiles.select(
        "doc_id",
        F.expr(
            "array_join(transform(tile, x -> CAST(x AS STRING)), ',')"
        ).alias("tile_csv"),
        F.expr("aggregate(tile, CAST(0 AS BIGINT), (a, x) -> a + x)").alias(
            "tile_sum"
        ),
    )


def _resize_oracle_sql() -> str:
    # nearest-neighbor index i -> character floor(i*n/PX)+1 (1-based),
    # ord() = Spark's ord(s[idx]) for the ASCII fixture text; empty
    # docs resample to zeros
    cells = ", ".join(
        f"CASE WHEN len(text) = 0 THEN 0"
        f" ELSE ord(substr(text, ({i} * len(text)) // {TILE_PX} + 1, 1)) END"
        for i in range(TILE_PX)
    )
    return f"""
SELECT doc_id,
       array_to_string([{cells}], ',') AS tile_csv,
       CAST(list_sum([{cells}]) AS BIGINT) AS tile_sum
FROM documents
"""


# --- real-codec round trips (BMP / WAV through mapInPandas) ------------------
#
# The decode gap called out in VERDICT r3: run the media feature path on
# a REAL format, not a fake.  Each document deterministically renders to
# a 6×8 24-bit BMP (pixel = nearest-neighbor char code, channels mixed
# so RGB order mistakes can't cancel) and a 32-sample PCM16 WAV; the
# payload is ENCODED and then DECODED with the standard-format codecs
# above inside one mapInPandas pass, and the reported stats come from
# the DECODED bytes.  The positional checksum Σ(i+1)·mix(pixel_i) makes
# the oracle sensitive to row order (bottom-up), padding, and BGR
# swizzle — a decoder bug cannot hash-match.  Width 6 forces a 2-byte
# row pad (stride 18→20), the classic BMP decode mistake.
#
# Scale shape: identical to extract_features — Arrow-batched scan, no
# shuffle; unlike the tiny hash closures these reference the module
# codecs, which ship to executors with the package wheel (the normal
# deployment for any real media pipeline).

IMG_W, IMG_H = 6, 8
AUDIO_N, AUDIO_RATE = 32, 16_000


def _nn_codes(text: str, n: int) -> list[int]:
    if not text:
        return [0] * n
    ln = len(text)
    return [ord(text[(i * ln) // n]) % 256 for i in range(n)]


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP encode→decode round trip per document; stats from the
    decoded pixels."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w, h = IMG_W, IMG_H

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # yield per Arrow batch — accumulating all batches before
        # yielding would grow executor memory with partition size
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = _nn_codes(text or "", w * h)
                rgb = bytearray()
                for c in codes:
                    rgb += bytes((c, (2 * c + 1) % 256, (7 * c + 3) % 256))
                dw, dh, px = decode_image(encode_bmp(w, h, bytes(rgb)))
                r_sum = sum(px[3 * i] for i in range(dw * dh))
                g_sum = sum(px[3 * i + 1] for i in range(dw * dh))
                b_sum = sum(px[3 * i + 2] for i in range(dw * dh))
                pos = sum(
                    (i + 1)
                    * (px[3 * i] + 2 * px[3 * i + 1] + 3 * px[3 * i + 2])
                    for i in range(dw * dh)
                )
                recs.append((int(doc_id), dw, dh, r_sum, g_sum, b_sum, pos))
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "width", "height",
                    "r_sum", "g_sum", "b_sum", "pos_check",
                ],
            )

    return docs.mapInPandas(
        batches,
        schema=(
            "doc_id bigint, width bigint, height bigint, r_sum bigint, "
            "g_sum bigint, b_sum bigint, pos_check bigint"
        ),
    )


# --- perceptual image dedup (dHash through the real codec) ------------------
#
# The multimodal twin of ``dedup_exact``: every document's synthetic
# image round-trips through the REAL BMP encoder/decoder (mapInPandas,
# Arrow-batched), a 40-bit difference hash (adjacent-pixel gradient
# signs over the 6x8 grayscale grid) is packed per image, and images
# agreeing on the hash group as perceptual duplicates.  The corpus is
# the exact-copy corpus (originals + byte-identical copies at shifted
# ids) so real duplicate groups exist by construction.  The oracle
# regenerates the SAME grayscale grid arithmetically (the pixel-formula
# trick every multimodal twin uses) and packs the same bits with a lead
# window - no codec needed on the DuckDB side, which is exactly the
# point: the codec round trip must be value-neutral.
#
# Scale shape: decode+hash is one Arrow-batched scan; the dedup is one
# map-side-combinable groupBy on the 40-bit key.

DHASH_COPY_OFFSET = 2_000_000  # mirrors dedup.EXACT_COPY_OFFSET


def _dhash_frame(corpus: DataFrame) -> DataFrame:
    """``(doc_id, dhash)`` per image, computed THROUGH the real BMP
    encode→decode round trip in one Arrow-batched mapInPandas scan —
    the 40-bit difference hash (adjacent-pixel gradient signs over the
    6x8 grayscale grid)."""
    w, h = IMG_W, IMG_H

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = _nn_codes(text or "", w * h)
                rgb = bytearray()
                for c in codes:
                    rgb += bytes((c, (2 * c + 1) % 256, (7 * c + 3) % 256))
                dw, dh, px = decode_image(encode_bmp(w, h, bytes(rgb)))
                gray = [
                    (px[3 * i] + px[3 * i + 1] + px[3 * i + 2]) // 3
                    for i in range(dw * dh)
                ]
                dhash = 0
                for y in range(dh):
                    for x in range(dw - 1):
                        if gray[y * dw + x] < gray[y * dw + x + 1]:
                            dhash |= 1 << (y * (dw - 1) + x)
                recs.append((int(doc_id), dhash))
            yield pd.DataFrame(recs, columns=["doc_id", "dhash"])

    # deliberately NOT spread (r12 A/B): hash-repartitioning the docs
    # before the codec loop measured a net LOSS at bench SF (4.4 s vs
    # 3.4 s on the neardup composite): the exchange cost more than the
    # codec parallelism bought.  That A/B predates io.with_variants,
    # when each of the three jittered branches re-ran the spread and
    # the codec; it has not been re-run over the one codec pass.  At
    # real scale the input arrives in many splits, so io.spread would
    # be a no-op there anyway
    return corpus.mapInPandas(batches, schema="doc_id bigint, dhash bigint")


def multimodal_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the codec reads only ``text``, so a byte-identical copy hashes
    # the same: hash the originals once and emit the copies after it
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = with_variants(
        _dhash_frame(docs), {"doc_id": f"doc_id + {DHASH_COPY_OFFSET}"}
    )
    return (
        hashed.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_images") > 1)
    )


def _dhash_ctes(corpus_sql: str) -> str:
    """The DuckDB twin of ``_dhash_frame``: regenerate the SAME
    grayscale grid arithmetically (the pixel-formula trick every
    multimodal twin uses) and pack the same 40 gradient-sign bits with
    a lead window — no codec needed on the oracle side, which is
    exactly the point: the BMP round trip must be value-neutral.
    Yields CTEs ``corpus → px → gray → bits → hashed(doc_id, dhash)``."""
    return f"""corpus AS ({corpus_sql}),
px AS (
  SELECT doc_id, i,
         CASE WHEN len(text) = 0 THEN 0
              ELSE ord(substr(text, (i * len(text)) // {IMG_W * IMG_H} + 1, 1))
                   % 256 END AS c
  FROM corpus, (SELECT unnest(generate_series(0, {IMG_W * IMG_H - 1})) AS i)
),
gray AS (
  SELECT doc_id, i,
         (c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3 AS g
  FROM px
),
bits AS (
  SELECT doc_id, i, g,
         lead(g) OVER (PARTITION BY doc_id ORDER BY i) AS ng
  FROM gray
),
hashed AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN g < ng THEN
                    (CAST(1 AS BIGINT) <<
                     ((i // {IMG_W}) * {IMG_W - 1} + (i % {IMG_W})))
                  ELSE 0 END) AS BIGINT) AS dhash
  FROM bits WHERE i % {IMG_W} < {IMG_W - 1}
  GROUP BY doc_id
)"""


MULTIMODAL_DHASH_SQL = f"""
WITH {_dhash_ctes(f'''
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DHASH_COPY_OFFSET} AS doc_id, text FROM documents''')}
SELECT dhash, CAST(count(*) AS BIGINT) AS n_images, min(doc_id) AS keep_id
FROM hashed GROUP BY dhash HAVING count(*) > 1
"""


# --- hamming-radius perceptual near-dup --------------------------------------
#
# ``multimodal_dhash_dedup`` groups on EXACT 40-bit hash equality — it
# catches re-encoded identical images, but a 1-bit hamming neighbor
# (crop/brightness jitter) is invisible.  This is the real perceptual
# case: band the hash into 4×10-bit LSH bands (the MinHash-LSH pattern,
# dedup.py); hamming distance ≤ 3 over 4 bands leaves at least one band
# untouched (pigeonhole), so the band self-join generates a COMPLETE
# candidate set for radius 3; candidates verify with one popcount
# expression (``bit_count(a ^ b)``) and verified pairs cluster via the
# shared large-star/small-star connected components.
#
# The jittered corpus plants its perturbations at the hash level —
# every original spawns a near copy with ``doc_id % 4`` (0..3) bit
# flips at deterministic positions (must be recovered: ≤ radius) and a
# far copy with 5 flips at positions DISJOINT from the near mask (must
# be rejected: > radius from both the original and the near copy).
# Hash-level planting is the right fixture: the machinery under test
# (banding, popcount verify, CC) operates on hashes, and the codec path
# producing them is already byte-exact-verified by multimodal_decode /
# multimodal_dhash_dedup; steering exact bit counts through pixel edits
# would re-test the codec, not the dedup.  Masks are pure doc_id
# expressions (JVM-side in Spark, identical arithmetic in DuckDB).
#
# Scale shape: one Arrow-batched codec scan, one shuffle on the
# (band_idx, band_val) key, expression-only verification, big-star CC
# over the (sparse) verified graph.  SIZING MATH the 100 TB deployment
# must respect: expected candidate pairs ≈ N²·B/2^(w+1) even for
# UNIFORM hashes (B bands of w bits), so w must grow with the corpus —
# w ≈ log₂(N) keeps candidates ≈ N·B/2.  With hamming radius r,
# completeness needs B ≥ r+1 bands, so the hash needs
# H = B·w ≈ (r+1)·log₂(N) bits: at N=10⁹, r=3 that is ~124 bits — a
# PDQ-class 128-bit hash with 4×32-bit bands, not this fixture's
# 40-bit/4×10 grid (sound to N~10⁵; the banding/verify/CC plan is
# width-agnostic, only the two constants change).  Within-bucket skew
# (millions of near-black thumbnails) additionally wants the
# entity-resolution per-block cap (dedup.py FUZZY_BLOCK_CAP); left
# uncapped here because a cap breaks the radius-3 completeness
# guarantee the test pins.

DHASH_NEAR_OFFSET = 3_000_000
DHASH_FAR_OFFSET = 4_000_000
DHASH_BITS = (IMG_W - 1) * IMG_H  # 40
DHASH_RADIUS = 3
# Band width derives from the image count at call time (the w ≈ log₂N
# rule, see dedup.hamming_band_bits); the 40-bit hash is grid-bound, so
# the width CAP is 40/(radius+1) = 10 — pigeonhole completeness needs
# ≥ 4 bands.  Past N ≈ 10³ images the cap binds and per-item candidate
# load grows linearly with N: that is the hard ceiling of a 40-bit
# fingerprint (this fixture's codec grid), and exactly what the
# 128-bit variant below exists for — its width cap sits at 32 bits
# (N ≈ 4·10⁹) with the same machinery.
DHASH_BAND_BITS_MIN = 6
DHASH_BAND_BITS_MAX = DHASH_BITS // (DHASH_RADIUS + 1)  # 10


def dhash_corpus_width(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(image count, derived band width) for the jittered dhash corpus
    — exactly 3× the documents count (original + near + far copy); the
    count folds to parquet row-group metadata."""
    from dbdiff_spark.ops.dedup import hamming_band_bits

    n = 3 * load_table(spark, sf_dir, "documents").count()
    return n, hamming_band_bits(n, DHASH_BAND_BITS_MIN, DHASH_BAND_BITS_MAX)
# near positions (doc_id + step) % 40 are pairwise distinct and disjoint
# from the far positions for every doc_id (all step differences ≠ 0
# mod 40), so mask terms never collide and '+' is a safe bitwise OR.
_NEAR_JITTER_STEPS = (0, 13, 26)  # flip i-th iff doc_id % 4 > i → 0..3 flips
_FAR_JITTER_STEPS = (7, 20, 33, 46, 59)  # always 5 flips (> radius)


def _shift1(pos_expr: str, engine: str) -> str:
    if engine == "spark":
        return f"shiftleft(CAST(1 AS BIGINT), CAST({pos_expr} AS INT))"
    return f"(CAST(1 AS BIGINT) << ({pos_expr}))"


def _near_mask(engine: str) -> str:
    return " + ".join(
        f"(CASE WHEN doc_id % 4 > {i} THEN "
        f"{_shift1(f'(doc_id + {s}) % {DHASH_BITS}', engine)} "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i, s in enumerate(_NEAR_JITTER_STEPS)
    )


def _far_mask(engine: str) -> str:
    return " + ".join(
        _shift1(f"(doc_id + {s}) % {DHASH_BITS}", engine)
        for s in _FAR_JITTER_STEPS
    )


def _jittered_hashes(hashed: DataFrame) -> DataFrame:
    """originals ∪ near copies (≤3 planted flips) ∪ far copies (5
    flips), masks derived from the ORIGINAL doc_id."""
    return with_variants(
        hashed,
        {
            "doc_id": f"doc_id + {DHASH_NEAR_OFFSET}",
            "dhash": f"dhash ^ ({_near_mask('spark')})",
        },
        {
            "doc_id": f"doc_id + {DHASH_FAR_OFFSET}",
            "dhash": f"dhash ^ ({_far_mask('spark')})",
        },
    )


def _dhash_banded(spark: SparkSession, sf_dir: str, band_bits: int) -> DataFrame:
    """Lazy (doc_id, dhash, band_idx, band_val) frame over the jittered
    corpus — ⌈40/w⌉ bands of ``band_bits`` (the last band narrower when
    w does not divide 40; pigeonhole completeness only needs the band
    COUNT ≥ radius+1, which the width cap guarantees)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    all_imgs = _jittered_hashes(_dhash_frame(docs))
    n_bands = -(-DHASH_BITS // band_bits)
    band_structs = ", ".join(
        f"struct({b} AS band_idx, "
        f"(shiftright(dhash, {band_bits * b})"
        f" & {(1 << min(band_bits, DHASH_BITS - band_bits * b)) - 1})"
        f" AS band_val)"
        for b in range(n_bands)
    )
    return all_imgs.selectExpr(
        "doc_id", "dhash", f"explode(array({band_structs})) AS band"
    ).select("doc_id", "dhash", "band.band_idx", "band.band_val")


def _dhash_pairs(banded: DataFrame) -> DataFrame:
    """Band self-join candidates verified by one single-word popcount."""
    left, right = banded.alias("x"), banded.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(F.expr(f"bit_count(x.dhash ^ y.dhash) <= {DHASH_RADIUS}"))
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )


def _dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified candidate pairs — the distributed core (band self-join
    + popcount verify + distinct); the public op adds the iterative CC
    on top, so this lazy frame is also the plan-audit view."""
    _n, w = dhash_corpus_width(spark, sf_dir)
    return _dhash_pairs(_dhash_banded(spark, sf_dir, w))


def multimodal_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate clusters: every image within hamming
    distance ≤ ``DHASH_RADIUS`` of another gets ``(doc_id, cluster_id)``
    with cluster_id = the component-minimum doc_id.  Band width derives
    from the corpus count (oracle re-derives it identically); the
    banded frame's lineage is cut once so the codec scan feeds
    both the candidate-explosion seatbelt and the pair join."""
    from dbdiff_spark.ops.dedup import (
        _symmetric,
        assert_band_load,
        bigstar_components,
    )

    n, w = dhash_corpus_width(spark, sf_dir)
    banded = cut_lineage(_dhash_banded(spark, sf_dir, w), eager=True)
    assert_band_load(banded, n, "multimodal_dhash_neardup")
    return bigstar_components(
        _symmetric(_dhash_pairs(banded)), "multimodal_dhash_neardup"
    )


def _dhash_neardup_sql() -> str:
    from dbdiff_spark.ops.dedup import _CC_CLUSTERS_CTES, _band_bits_duck

    w_expr = _band_bits_duck(
        "SELECT 3 * count(*) FROM documents",
        DHASH_BAND_BITS_MIN,
        DHASH_BAND_BITS_MAX,
    )
    return f"""
WITH RECURSIVE dparams AS MATERIALIZED (
  SELECT {w_expr} AS w
),
{_dhash_ctes("SELECT doc_id, text FROM documents")},
all_imgs AS (
  SELECT doc_id, dhash FROM hashed
  UNION ALL
  SELECT doc_id + {DHASH_NEAR_OFFSET} AS doc_id,
         xor(dhash, {_near_mask('duck')}) AS dhash
  FROM hashed
  UNION ALL
  SELECT doc_id + {DHASH_FAR_OFFSET} AS doc_id,
         xor(dhash, {_far_mask('duck')}) AS dhash
  FROM hashed
),
bands AS (
  SELECT doc_id, dhash, CAST(b AS INT) AS band_idx,
         (dhash >> CAST(w * b AS INT))
           & ((CAST(1 AS BIGINT)
               << CAST(LEAST(w, {DHASH_BITS} - w * b) AS INT)) - 1)
           AS band_val
  FROM all_imgs, dparams,
       (SELECT unnest(generate_series(0, {DHASH_BITS - 1})) AS b) bs
  WHERE b * w < {DHASH_BITS}
),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
   AND x.doc_id < y.doc_id
  WHERE bit_count(xor(x.dhash, y.dhash)) <= {DHASH_RADIUS}
),
{_CC_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters
"""


# --- 128-bit PDQ-class perceptual near-dup -----------------------------------
#
# The 40-bit dhash above is grid-bound: its band-width cap (w = 10)
# binds past N ~ 10^3 images — the hard ceiling of that FINGERPRINT,
# not of the machinery.  This variant is the production shape the
# repo's sizing table calls for at 10^9 images: a 128-bit gradient
# fingerprint (17x8 grayscale grid -> 16 gradient signs x 8 rows,
# through the REAL padded-stride BMP round trip) carried as TWO packed
# BIGINT words, banded at a runtime-derived width snapped to the even
# splits {8, 16, 32} (w divides 64, so a band never straddles a word
# and extraction is one shift+mask), verified with a two-word popcount
# ``bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)``.  At bench N
# (~1.5k/15k images) the derivation lands on 8x16-bit bands; past
# N = 2^16 it shifts to 4x32 (radius 3 needs only >= 4 bands), which
# keeps candidates ~ N·B/2 out to N ~ 4·10^9.
#
# The oracle never touches the words: it regenerates the same bits
# arithmetically (the pixel-formula trick), packs BAND VALUES directly
# (<= 2^32, so DuckDB BIGINTs stay positive — no 1<<63, which DuckDB
# rejects), and verifies with the per-band popcount sum, which equals
# the two-word popcount because the bands tile the fingerprint.
# Jitter planting mirrors the 40-bit op (near copies <= 3 flips, far
# copies 5 flips at positions disjoint from every near mask — all
# pairwise step differences are nonzero mod 128).

IMG128_W, IMG128_H = 17, 8
DHASH128_BITS = (IMG128_W - 1) * IMG128_H  # 128
DHASH128_RADIUS = 3
DHASH128_NEAR_OFFSET = 6_000_000
DHASH128_FAR_OFFSET = 7_000_000
DHASH128_SPLITS = (8, 16, 32)
_NEAR128_STEPS = (0, 43, 86)  # flip i-th iff doc_id % 4 > i -> 0..3 flips
_FAR128_STEPS = (7, 29, 51, 73, 95)  # always 5 flips (> radius)


def dhash128_layout(n_items: int) -> tuple[int, int]:
    """(band width, band count): the w ~ log2(N) rule snapped UP to the
    even splits {8, 16, 32} so bands tile the two 64-bit words without
    straddling.  The DuckDB twin re-derives the identical snap."""
    from dbdiff_spark.ops.dedup import hamming_band_bits

    wanted = hamming_band_bits(
        n_items, DHASH128_SPLITS[0], DHASH128_SPLITS[-1]
    )
    w = next(s for s in DHASH128_SPLITS if s >= wanted)
    return w, DHASH128_BITS // w


def dhash128_corpus_layout(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, int]:
    """(image count, band width, band count) — the corpus is exactly 3x
    the documents count (original + near + far copy); the count folds
    to parquet row-group metadata."""
    n = 3 * load_table(spark, sf_dir, "documents").count()
    w, b = dhash128_layout(n)
    return n, w, b


def _dhash128_frame(corpus: DataFrame) -> DataFrame:
    """``(doc_id, fp_lo, fp_hi)`` through the real BMP encode->decode
    round trip (17px rows stride-pad to 52 bytes — the padded-row codec
    path is genuinely exercised).  Words carry bits 0..63 / 64..127 as
    raw two's-complement BIGINTs (bit 63/127 may set the sign; xor and
    popcount are sign-agnostic)."""
    w, h = IMG128_W, IMG128_H

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                codes = _nn_codes(text or "", w * h)
                rgb = bytearray()
                for c in codes:
                    rgb += bytes((c, (2 * c + 1) % 256, (7 * c + 3) % 256))
                dw, dh, px = decode_image(encode_bmp(w, h, bytes(rgb)))
                gray = [
                    (px[3 * i] + px[3 * i + 1] + px[3 * i + 2]) // 3
                    for i in range(dw * dh)
                ]
                fp = 0
                for y in range(dh):
                    for x in range(dw - 1):
                        if gray[y * dw + x] < gray[y * dw + x + 1]:
                            fp |= 1 << (y * (dw - 1) + x)
                lo, hi = fp & ((1 << 64) - 1), fp >> 64
                recs.append(
                    (
                        int(doc_id),
                        lo - (1 << 64) if lo >= (1 << 63) else lo,
                        hi - (1 << 64) if hi >= (1 << 63) else hi,
                    )
                )
            yield pd.DataFrame(recs, columns=["doc_id", "fp_lo", "fp_hi"])

    # not spread — see _dhash_frame (same A/B outcome)
    return corpus.mapInPandas(
        batches, schema="doc_id bigint, fp_lo bigint, fp_hi bigint"
    )


def _mask128_words(steps: tuple, guarded: bool) -> tuple[str, str]:
    """(lo_mask, hi_mask) Spark expressions planting flips at positions
    ``(doc_id + s) % 128``.  '+' is a safe bitwise OR: the positions are
    pairwise distinct mod 128 for every doc_id, so terms never carry
    (including the sign-bit term 1<<63, which two's-complement addition
    still places correctly when no other term collides)."""
    lo_terms, hi_terms = [], []
    for i, s in enumerate(steps):
        pos = f"((doc_id + {s}) % {DHASH128_BITS})"
        guard = f"doc_id % 4 > {i} AND " if guarded else ""
        lo_terms.append(
            f"(CASE WHEN {guard}{pos} < 64 THEN "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
        hi_terms.append(
            f"(CASE WHEN {guard}{pos} >= 64 THEN "
            f"shiftleft(CAST(1 AS BIGINT), CAST({pos} - 64 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(lo_terms), " + ".join(hi_terms)


def _jittered128(hashed: DataFrame) -> DataFrame:
    """originals ∪ near copies (<=3 planted flips) ∪ far copies (5
    flips), masks derived from the ORIGINAL doc_id."""
    near_lo, near_hi = _mask128_words(_NEAR128_STEPS, guarded=True)
    far_lo, far_hi = _mask128_words(_FAR128_STEPS, guarded=False)
    return with_variants(
        hashed,
        {
            "doc_id": f"doc_id + {DHASH128_NEAR_OFFSET}",
            "fp_lo": f"fp_lo ^ ({near_lo})",
            "fp_hi": f"fp_hi ^ ({near_hi})",
        },
        {
            "doc_id": f"doc_id + {DHASH128_FAR_OFFSET}",
            "fp_lo": f"fp_lo ^ ({far_lo})",
            "fp_hi": f"fp_hi ^ ({far_hi})",
        },
    )


def _dhash128_banded(
    spark: SparkSession, sf_dir: str, band_bits: int
) -> DataFrame:
    """Lazy (doc_id, fp_lo, fp_hi, band_idx, band_val) frame — each
    band one shift+mask out of its word (w divides 64: no straddle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    imgs = _jittered128(_dhash128_frame(docs))
    mask = (1 << band_bits) - 1
    structs = []
    for b in range(DHASH128_BITS // band_bits):
        s = b * band_bits
        word, shift = ("fp_lo", s) if s < 64 else ("fp_hi", s - 64)
        structs.append(
            f"struct({b} AS band_idx, "
            f"(shiftright({word}, {shift}) & {mask}) AS band_val)"
        )
    return imgs.selectExpr(
        "doc_id", "fp_lo", "fp_hi",
        f"explode(array({', '.join(structs)})) AS band",
    ).select("doc_id", "fp_lo", "fp_hi", "band.band_idx", "band.band_val")


def _dhash128_pairs(banded: DataFrame) -> DataFrame:
    """Band self-join candidates verified by the two-word popcount."""
    left, right = banded.alias("x"), banded.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(
            F.expr(
                f"bit_count(x.fp_lo ^ y.fp_lo) + bit_count(x.fp_hi ^ y.fp_hi)"
                f" <= {DHASH128_RADIUS}"
            )
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )


def _dhash128_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy plan-audit view of the distributed core."""
    _n, w, _b = dhash128_corpus_layout(spark, sf_dir)
    return _dhash128_pairs(_dhash128_banded(spark, sf_dir, w))


def multimodal_dhash128_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """128-bit perceptual near-duplicate clusters at hamming radius <=
    ``DHASH128_RADIUS``: ``(doc_id, cluster_id)`` with cluster_id the
    component-minimum doc_id.  Band layout derives from the corpus
    count (8x16 at bench N, 4x32 past 2^16 images); the banded frame's
    lineage is cut once so the codec scan feeds both the
    candidate-explosion seatbelt and the pair join."""
    from dbdiff_spark.ops.dedup import (
        _symmetric,
        assert_band_load,
        bigstar_components,
    )

    n, w, _b = dhash128_corpus_layout(spark, sf_dir)
    banded = cut_lineage(_dhash128_banded(spark, sf_dir, w), eager=True)
    assert_band_load(banded, n, "multimodal_dhash128_neardup")
    return bigstar_components(
        _symmetric(_dhash128_pairs(banded)), "multimodal_dhash128_neardup"
    )


def _dhash128_neardup_sql() -> str:
    from dbdiff_spark.ops.dedup import _CC_CLUSTERS_CTES, _band_bits_duck

    wanted = _band_bits_duck(
        "SELECT 3 * count(*) FROM documents",
        DHASH128_SPLITS[0],
        DHASH128_SPLITS[-1],
    )
    npx = IMG128_W * IMG128_H
    near_flip = " OR ".join(
        f"(doc_id % 4 > {i} AND (doc_id + {s}) % {DHASH128_BITS} = j)"
        for i, s in enumerate(_NEAR128_STEPS)
    )
    far_flip = " OR ".join(
        f"((doc_id + {s}) % {DHASH128_BITS} = j)" for s in _FAR128_STEPS
    )
    return f"""
WITH RECURSIVE d128params AS MATERIALIZED (
  SELECT CASE WHEN ({wanted}) <= 8 THEN 8
              WHEN ({wanted}) <= 16 THEN 16
              ELSE 32 END AS w
),
px128 AS (
  SELECT doc_id, i,
         CASE WHEN len(text) = 0 THEN 0
              ELSE ord(substr(text, (i * len(text)) // {npx} + 1, 1))
                   % 256 END AS c
  FROM documents, (SELECT unnest(generate_series(0, {npx - 1})) AS i)
),
lead128 AS MATERIALIZED (
  SELECT doc_id, i,
         (c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3 AS g,
         lead((c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3)
           OVER (PARTITION BY doc_id ORDER BY i) AS ng
  FROM px128
),
base_bits AS MATERIALIZED (
  SELECT doc_id,
         (i // {IMG128_W}) * {IMG128_W - 1} + (i % {IMG128_W}) AS j,
         CASE WHEN g < ng THEN 1 ELSE 0 END AS bit
  FROM lead128 WHERE i % {IMG128_W} < {IMG128_W - 1}
),
all_bits AS MATERIALIZED (
  SELECT doc_id, j, bit FROM base_bits
  UNION ALL
  SELECT doc_id + {DHASH128_NEAR_OFFSET} AS doc_id, j,
         CASE WHEN {near_flip} THEN 1 - bit ELSE bit END AS bit
  FROM base_bits
  UNION ALL
  SELECT doc_id + {DHASH128_FAR_OFFSET} AS doc_id, j,
         CASE WHEN {far_flip} THEN 1 - bit ELSE bit END AS bit
  FROM base_bits
),
dbands128 AS MATERIALIZED (
  SELECT doc_id, CAST(j // w AS INT) AS band_idx,
         CAST(sum(CAST(bit AS BIGINT) << CAST(j % w AS INT)) AS BIGINT)
           AS band_val
  FROM all_bits, d128params
  GROUP BY doc_id, j // w
),
cand128 AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM dbands128 x JOIN dbands128 y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
   AND x.doc_id < y.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand128 c
  JOIN dbands128 bx ON bx.doc_id = c.id_a
  JOIN dbands128 byy ON byy.doc_id = c.id_b AND byy.band_idx = bx.band_idx
  GROUP BY c.id_a, c.id_b
  HAVING sum(bit_count(xor(bx.band_val, byy.band_val)))
           <= {DHASH128_RADIUS}
),
{_CC_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters
"""


MULTIMODAL_DECODE_SQL = f"""
WITH px AS (
  SELECT doc_id, i,
         CASE WHEN len(text) = 0 THEN 0
              ELSE ord(substr(text, (i * len(text)) // {IMG_W * IMG_H} + 1, 1))
                   % 256 END AS c
  FROM documents, (SELECT unnest(generate_series(0, {IMG_W * IMG_H - 1})) AS i)
)
SELECT doc_id,
       CAST({IMG_W} AS BIGINT) AS width,
       CAST({IMG_H} AS BIGINT) AS height,
       CAST(sum(c) AS BIGINT) AS r_sum,
       CAST(sum((2 * c + 1) % 256) AS BIGINT) AS g_sum,
       CAST(sum((7 * c + 3) % 256) AS BIGINT) AS b_sum,
       CAST(sum((i + 1) * (c + 2 * ((2 * c + 1) % 256)
                             + 3 * ((7 * c + 3) % 256))) AS BIGINT) AS pos_check
FROM px GROUP BY doc_id
"""


def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV encode→decode round trip per document; stats from the
    decoded samples."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n, rate = AUDIO_N, AUDIO_RATE

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                samples = [c * 100 - 12_800 for c in _nn_codes(text or "", n)]
                drate, dch, dsamp = decode_audio(encode_wav(rate, 1, samples))
                recs.append(
                    (
                        int(doc_id), drate, dch, len(dsamp),
                        sum(dsamp),
                        sum((i + 1) * s for i, s in enumerate(dsamp)),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=[
                    "doc_id", "sample_rate", "channels", "n_samples",
                    "amp_sum", "pos_check",
                ],
            )

    return docs.mapInPandas(
        batches,
        schema=(
            "doc_id bigint, sample_rate bigint, channels bigint, "
            "n_samples bigint, amp_sum bigint, pos_check bigint"
        ),
    )


MULTIMODAL_AUDIO_DECODE_SQL = f"""
WITH s AS (
  SELECT doc_id, i,
         (CASE WHEN len(text) = 0 THEN 0
               ELSE ord(substr(text, (i * len(text)) // {AUDIO_N} + 1, 1))
                    % 256 END) * 100 - 12800 AS v
  FROM documents, (SELECT unnest(generate_series(0, {AUDIO_N - 1})) AS i)
)
SELECT doc_id,
       CAST({AUDIO_RATE} AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS channels,
       CAST({AUDIO_N} AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS amp_sum,
       CAST(sum((i + 1) * v) AS BIGINT) AS pos_check
FROM s GROUP BY doc_id
"""


EXPLAIN_FRAMES = {
    "multimodal_dhash_neardup": _dhash_neardup_pairs,
    "multimodal_dhash128_neardup": _dhash128_neardup_pairs,
}


QUERIES = {
    "multimodal_metadata": (multimodal_metadata, MULTIMODAL_METADATA_SQL),
    "multimodal_decode": (multimodal_decode, MULTIMODAL_DECODE_SQL),
    "multimodal_dhash_dedup": (multimodal_dhash_dedup, MULTIMODAL_DHASH_SQL),
    "multimodal_dhash_neardup": (multimodal_dhash_neardup, _dhash_neardup_sql()),
    "multimodal_dhash128_neardup": (
        multimodal_dhash128_neardup,
        _dhash128_neardup_sql(),
    ),
    "multimodal_audio_decode": (
        multimodal_audio_decode,
        MULTIMODAL_AUDIO_DECODE_SQL,
    ),
    "multimodal_group_norm": (per_group_feature_norm, _group_norm_sql()),
    "multimodal_features": (multimodal_features, _features_oracle_sql()),
    "multimodal_frame_sample": (multimodal_frame_sample, MULTIMODAL_FRAME_SAMPLE_SQL),
    "multimodal_resize": (multimodal_resize, _resize_oracle_sql()),
}
