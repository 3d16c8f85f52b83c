"""Multimodal tests: binary payload schema, mapInPandas feature
extraction batch shape, deterministic fake encoder, and the real
BMP/PPM/WAV codecs (golden spec bytes + round-trip properties)."""

import hashlib

import pytest
from conftest import union_find_labels

from dbdiff_spark.ops import multimodal


def test_manifest_schema_and_hash(spark, sf_dir):
    m = multimodal.media_manifest(spark, sf_dir)
    assert dict(m.dtypes) == {
        "doc_id": "bigint",
        "payload": "binary",
        "byte_len": "bigint",
        "sha256": "string",
        "mime": "string",
    }
    row = m.orderBy("doc_id").first()
    assert row["sha256"] == hashlib.sha256(bytes(row["payload"])).hexdigest()
    assert row["byte_len"] == len(bytes(row["payload"]))


def test_extract_features_batch_shape(spark, sf_dir):
    m = multimodal.media_manifest(spark, sf_dir).limit(20)
    feats = multimodal.extract_features(m)
    assert dict(feats.dtypes)["features"] == "array<float>"
    rows = feats.orderBy("doc_id").collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == multimodal.FEATURE_DIM
    # deterministic: recompute one row's features driver-side
    m_row = m.orderBy("doc_id").first()
    expect = multimodal._fake_features(bytes(m_row["payload"]))
    got = [float(x) for x in rows[0]["features"]]
    assert got == pytest.approx(expect, abs=1e-7)


def test_decode_image_compressed_codecs_still_gate():
    if multimodal._HAVE_PIL:
        pytest.skip("PIL unexpectedly present")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG...")
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"\xff\xfb\x90...mp3 frame")


def test_decode_bmp_golden_bytes():
    """Hand-crafted 2×1 24-bit BMP (red then blue pixel) — golden bytes
    written from the spec, NOT from encode_bmp, so an encoder/decoder
    bug pair cannot cancel.  Exercises bottom-up rows, BGR order, and
    the 2-byte row pad (stride 6→8)."""
    golden = bytes.fromhex(
        "424d" "3e000000" "00000000" "36000000"        # BM, size 62, offset 54
        "28000000" "02000000" "01000000" "0100" "1800" # DIB: 2×1, 24bpp
        "00000000" "08000000" "130b0000" "130b0000"    # BI_RGB, 8-byte data
        "00000000" "00000000"
        "0000ff" "ff0000" "0000"                       # BGR red, BGR blue, pad
    )
    assert multimodal.decode_image(golden) == (2, 1, bytes((255, 0, 0, 0, 0, 255)))
    # encoder emits the same canonical form → round trip is identity
    rgb = bytes(range(multimodal.IMG_W * multimodal.IMG_H * 3))[
        : multimodal.IMG_W * multimodal.IMG_H * 3
    ]
    assert multimodal.decode_image(
        multimodal.encode_bmp(multimodal.IMG_W, multimodal.IMG_H, rgb)
    ) == (multimodal.IMG_W, multimodal.IMG_H, rgb)


def test_decode_ppm_and_wav():
    # P6 with a comment line in the header
    w, h, px = multimodal.decode_image(
        b"P6\n# comment\n2 1\n255\n" + bytes((9, 8, 7, 6, 5, 4))
    )
    assert (w, h, px) == (2, 1, bytes((9, 8, 7, 6, 5, 4)))
    # PCM16 WAV round trip at the int16 extremes
    samples = [0, 100, -100, 32767, -32768]
    assert multimodal.decode_audio(
        multimodal.encode_wav(16_000, 1, samples)
    ) == (16_000, 1, samples)
    # golden minimal WAV (spec-written, 2 samples: 1, -2)
    golden = bytes.fromhex(
        "52494646" "26000000" "57415645"                 # RIFF, size 38, WAVE
        "666d7420" "10000000" "0100" "0100"              # fmt , 16, PCM, mono
        "803e0000" "007d0000" "0200" "1000"              # 16000 Hz, 32000 B/s
        "64617461" "04000000" "0100" "feff"              # data, 4 bytes
    )
    assert multimodal.decode_audio(golden) == (16_000, 1, [1, -2])


def test_sample_frames_composes_with_feature_extraction(spark, sf_dir):
    """Per-frame encoding pipeline: payload → fixed-grid frame explode →
    mapInPandas features per FRAME — the video path's full plan shape."""
    m = multimodal.media_manifest(spark, sf_dir).limit(5)
    frames = multimodal.sample_frames(m)
    assert dict(frames.dtypes)["frame"] == "binary"
    per_doc = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    # sampled count = ceil(n_frames / step) over the doc's frame grid
    import math

    for r in m.select("doc_id", "byte_len").collect():
        total = max(1, math.ceil(r["byte_len"] / multimodal.FRAME_BYTES))
        expect = len(range(0, total, multimodal.FRAME_STEP))
        assert per_doc[r["doc_id"]] == expect
    feats = multimodal.extract_features(frames, payload_col="frame")
    row = feats.orderBy("doc_id", "frame_idx").first()
    assert len(row["features"]) == multimodal.FEATURE_DIM
    assert "frame_idx" in feats.columns and "frame" not in feats.columns


def test_group_norm_centered_sums_balance_within_floor_slack(spark, sf_dir):
    """Mean-centering with floor-divided means: per group, the centered
    sums total in [0, dim * n) — zero if means divided exactly, plus at
    most one grid unit of slack per (position, doc)."""
    from dbdiff_spark.ops.multimodal import FEATURE_DIM, per_group_feature_norm

    rows = per_group_feature_norm(spark, sf_dir).collect()
    assert rows
    by_group = {}
    for r in rows:
        by_group.setdefault(r.source, []).append(r)
    for source, members in by_group.items():
        n = members[0].n_group
        assert len(members) == n
        total = sum(r.centered_sum_grid for r in members)
        assert 0 <= total < FEATURE_DIM * n


@pytest.mark.parametrize("width,height", [(1, 1), (2, 3), (3, 2), (5, 1), (7, 4)])
def test_bmp_roundtrip_all_pad_widths(width, height):
    """decode(encode(...)) is identity for every stride-padding case
    (3*w mod 4 covers 0..3 across these widths)."""
    import hashlib

    n = 3 * width * height
    rgb = hashlib.sha256(f"{width}x{height}".encode()).digest() * (n // 32 + 1)
    rgb = rgb[:n]
    assert multimodal.decode_image(
        multimodal.encode_bmp(width, height, rgb)
    ) == (width, height, rgb)


def test_wav_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        rate=st.sampled_from([8_000, 16_000, 44_100]),
        samples=st.lists(
            st.integers(min_value=-32_768, max_value=32_767), max_size=64
        ),
    )
    def check(rate, samples):
        assert multimodal.decode_audio(
            multimodal.encode_wav(rate, 1, samples)
        ) == (rate, 1, samples)

    check()


@pytest.mark.parametrize(
    "payload",
    [
        b"P6", b"P6\n2", b"P6\n# only a comment", b"P6\n2 1", b"P6\n2 1 255",
        b"P6\n2 -1 255\n" + bytes(6),  # negative dims parse via int('-1')
    ],
)
def test_truncated_ppm_raises_not_hangs(payload):
    """A corrupt/truncated PPM header must fail the row, never spin —
    end-of-buffer used to read as 'not whitespace' and loop forever."""
    with pytest.raises((ValueError, NotImplementedError)):
        multimodal.decode_image(payload)


def test_corrupt_wav_raises_not_truncates():
    """RIFF chunk sizes are corruption-controlled; the decoder must
    fail the row, never silently return a short sample list (the PPM
    hardening, mirrored).  Three faults: data-chunk size past the
    payload end, fmt chunk shorter than the 16 PCM bytes, and a
    zero-channel fmt."""
    import struct

    good = multimodal.encode_wav(8_000, 1, [1, 2, 3, 4])
    # (a) inflate the data chunk's declared size past the payload end
    data_pos = good.index(b"data")
    oversize = (
        good[: data_pos + 4]
        + struct.pack("<I", 10_000)
        + good[data_pos + 8 :]
    )
    with pytest.raises(ValueError, match="truncated WAV"):
        multimodal.decode_audio(oversize)
    # (b) fmt chunk declares fewer than 16 bytes
    fmt_pos = good.index(b"fmt ")
    shortfmt = (
        good[: fmt_pos + 4] + struct.pack("<I", 8) + good[fmt_pos + 8 : fmt_pos + 16]
        + good[fmt_pos + 24 :]
    )
    with pytest.raises(ValueError, match="truncated WAV fmt"):
        multimodal.decode_audio(shortfmt)
    # (c) zero channels
    zeroch = bytearray(good)
    struct.pack_into("<H", zeroch, fmt_pos + 10, 0)
    with pytest.raises(ValueError, match="zero channels"):
        multimodal.decode_audio(bytes(zeroch))


def test_dhash_is_codec_neutral_and_groups_copies(spark, sf_dir):
    """The dHash computed THROUGH the BMP encode->decode round trip
    must equal a formula-only recompute (no codec) — the round trip is
    value-neutral — and every group must pair an original with its
    shifted copy (keep_id = the original)."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.multimodal import (
        DHASH_COPY_OFFSET,
        IMG_H,
        IMG_W,
        _nn_codes,
        multimodal_dhash_dedup,
    )

    out = {r.dhash: r for r in multimodal_dhash_dedup(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def formula_dhash(text):
        codes = _nn_codes(text or "", IMG_W * IMG_H)
        gray = [(c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3 for c in codes]
        dh = 0
        for y in range(IMG_H):
            for x in range(IMG_W - 1):
                if gray[y * IMG_W + x] < gray[y * IMG_W + x + 1]:
                    dh |= 1 << (y * (IMG_W - 1) + x)
        return dh

    expected = {}
    for r in docs:
        expected.setdefault(formula_dhash(r.text), []).append(r.doc_id)
    for dh, grp in out.items():
        ids = expected[dh]
        assert grp.keep_id == min(ids)
        assert grp.n_images == 2 * len(ids)  # originals + copies
    assert len(out) == len(expected)


def test_dhash_neardup_recovers_planted_jitter_exactly(spark, sf_dir):
    """The hamming-radius clustering must equal a brute-force
    all-pairs union-find at radius 3 — which proves BOTH planted
    semantics (every <=3-bit near copy recovered, every 5-bit far copy
    rejected unless some other genuine path links it) AND banding
    completeness (4x10-bit bands generate every radius-3 pair)."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.multimodal import (
        _FAR_JITTER_STEPS,
        _NEAR_JITTER_STEPS,
        DHASH_BITS,
        DHASH_FAR_OFFSET,
        DHASH_NEAR_OFFSET,
        DHASH_RADIUS,
        IMG_H,
        IMG_W,
        _nn_codes,
        multimodal_dhash_neardup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def formula_dhash(text):
        codes = _nn_codes(text or "", IMG_W * IMG_H)
        gray = [(c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3 for c in codes]
        dh = 0
        for y in range(IMG_H):
            for x in range(IMG_W - 1):
                if gray[y * IMG_W + x] < gray[y * IMG_W + x + 1]:
                    dh |= 1 << (y * (IMG_W - 1) + x)
        return dh

    imgs = {}
    for r in docs:
        base = formula_dhash(r.text)
        near = base
        for i, s in enumerate(_NEAR_JITTER_STEPS):
            if r.doc_id % 4 > i:
                near ^= 1 << ((r.doc_id + s) % DHASH_BITS)
        far = base
        for s in _FAR_JITTER_STEPS:
            far ^= 1 << ((r.doc_id + s) % DHASH_BITS)
        imgs[r.doc_id] = base
        imgs[r.doc_id + DHASH_NEAR_OFFSET] = near
        imgs[r.doc_id + DHASH_FAR_OFFSET] = far

    # brute-force union-find over ALL pairs at the radius
    ids = sorted(imgs)
    expected = union_find_labels(
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if bin(imgs[a] ^ imgs[b]).count("1") <= DHASH_RADIUS
    )

    actual = {
        r.doc_id: r.cluster_id
        for r in multimodal_dhash_neardup(spark, sf_dir).collect()
    }
    assert actual == expected
    # the planted contract holds on this corpus: every near copy joins
    # its original's cluster; no far copy joins its own original's
    for r in docs:
        assert actual[r.doc_id + DHASH_NEAR_OFFSET] == actual[r.doc_id]
        far_id = r.doc_id + DHASH_FAR_OFFSET
        assert actual.get(far_id) != actual[r.doc_id]


def test_dhash128_layout_snaps_to_word_aligned_splits():
    """Band layout derivation: w ≈ log₂N snapped UP to {8,16,32} so
    bands tile the two 64-bit words; the DuckDB CASE in the oracle
    derives the identical snap for every N."""
    import duckdb

    from dbdiff_spark.ops.dedup import _band_bits_duck
    from dbdiff_spark.ops.multimodal import DHASH128_SPLITS, dhash128_layout

    assert dhash128_layout(100) == (8, 16)
    assert dhash128_layout(1_500) == (16, 8)    # the sf0.01 corpus
    assert dhash128_layout(15_000) == (16, 8)   # the sf0.1 corpus
    assert dhash128_layout(2**16) == (16, 8)
    assert dhash128_layout(2**16 + 1) == (32, 4)  # the 10⁹-image regime
    assert dhash128_layout(4 * 10**9) == (32, 4)

    for n in (1, 100, 1_500, 2**16, 2**16 + 1, 10**9):
        wanted = _band_bits_duck(
            f"SELECT {n}", DHASH128_SPLITS[0], DHASH128_SPLITS[-1]
        )
        got = duckdb.sql(
            f"SELECT CASE WHEN ({wanted}) <= 8 THEN 8 "
            f"WHEN ({wanted}) <= 16 THEN 16 ELSE 32 END"
        ).fetchone()[0]
        assert got == dhash128_layout(n)[0], n


def test_dhash128_neardup_recovers_planted_jitter_exactly(spark, sf_dir):
    """The 128-bit hamming clustering must equal a brute-force
    all-pairs union-find at radius 3 — proving the planted semantics
    AND banding completeness at the derived word-aligned layout, with
    the two-word popcount verify."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.multimodal import (
        _FAR128_STEPS,
        _NEAR128_STEPS,
        _nn_codes,
        DHASH128_BITS,
        DHASH128_FAR_OFFSET,
        DHASH128_NEAR_OFFSET,
        DHASH128_RADIUS,
        IMG128_H,
        IMG128_W,
        multimodal_dhash128_neardup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def formula_dhash128(text):
        codes = _nn_codes(text or "", IMG128_W * IMG128_H)
        gray = [(c + ((2 * c + 1) % 256) + ((7 * c + 3) % 256)) // 3 for c in codes]
        fp = 0
        for y in range(IMG128_H):
            for x in range(IMG128_W - 1):
                if gray[y * IMG128_W + x] < gray[y * IMG128_W + x + 1]:
                    fp |= 1 << (y * (IMG128_W - 1) + x)
        return fp

    imgs = {}
    for r in docs:
        base = formula_dhash128(r.text)
        near = base
        for i, s in enumerate(_NEAR128_STEPS):
            if r.doc_id % 4 > i:
                near ^= 1 << ((r.doc_id + s) % DHASH128_BITS)
        far = base
        for s in _FAR128_STEPS:
            far ^= 1 << ((r.doc_id + s) % DHASH128_BITS)
        imgs[r.doc_id] = base
        imgs[r.doc_id + DHASH128_NEAR_OFFSET] = near
        imgs[r.doc_id + DHASH128_FAR_OFFSET] = far

    parent = {i: i for i in imgs}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    ids = sorted(imgs)
    in_pair = set()
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            if bin(imgs[a] ^ imgs[b]).count("1") <= DHASH128_RADIUS:
                in_pair.update((a, b))
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in sorted(in_pair)}

    actual = {
        r.doc_id: r.cluster_id
        for r in multimodal_dhash128_neardup(spark, sf_dir).collect()
    }
    assert actual == expected
    for r in docs:
        assert actual[r.doc_id + DHASH128_NEAR_OFFSET] == actual[r.doc_id]
        far_id = r.doc_id + DHASH128_FAR_OFFSET
        assert actual.get(far_id) != actual[r.doc_id]
