"""Multimodal kernels: real BMP/PPM decode round-trips, resize
geometry, feature extraction, frame sampling, corrupt-input safety,
and the explicit codec gate for compressed formats."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from e_commerce_data_pipeline_spark.operators.multimodal import (
    _MS_COEFS,
    decode_bmp,
    decode_image_meta,
    decode_ppm,
    encode_bmp,
    encode_ppm,
    encode_video,
    image_features,
    make_test_pixels,
    ms_adpcm_step,
    require_codec,
    resize_images,
    sample_video_frames,
    synthetic_media_table,
)


def test_bmp_roundtrip_exact():
    for w, h in [(16, 16), (17, 9), (1, 1), (33, 2)]:  # odd widths hit row padding
        px = make_test_pixels(w, h, seed=3)
        assert (decode_bmp(encode_bmp(px)) == px).all()


def test_ppm_roundtrip_exact():
    px = make_test_pixels(21, 13, seed=7)
    assert (decode_ppm(encode_ppm(px)) == px).all()


def test_compressed_formats_gate_explicitly():
    with pytest.raises(NotImplementedError):
        require_codec("jpeg")


def test_real_decode_meta(spark):
    df = synthetic_media_table(spark, 40, real=True)
    rows = decode_image_meta(df).collect()
    assert len(rows) == 40
    by_id = {r["media_id"]: r for r in rows}
    assert by_id[0]["format"] == "bmp" and by_id[1]["format"] == "ppm"
    assert (by_id[0]["width"], by_id[0]["height"], by_id[0]["channels"]) == (16, 16, 3)
    assert all(r["width"] is not None for r in rows)


def test_fake_header_layout_still_parses(spark):
    df = synthetic_media_table(spark, 10)  # header-only FAKEIMG payloads
    rows = decode_image_meta(df, fake=True).collect()
    assert all(r["format"] == "fakeimg" for r in rows)
    # without the fake flag they are just undecodable bytes -> nulls
    rows2 = decode_image_meta(df).collect()
    assert all(r["format"] is None for r in rows2)


def test_corrupt_content_yields_nulls_not_errors(spark):
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(b"not an image"), 12, None),
            (2, "image", bytearray(b"BM\x01"), 3, None),  # truncated BMP
            (3, "image", None, None, None),
        ],
        "media_id long, media_type string, content binary, content_length long, source_uri string",
    )
    rows = decode_image_meta(df).collect()
    assert all(r["width"] is None and r["format"] is None for r in rows)


# every one-row-per-item kernel; the two extra-argument kernels get
# fixed arguments, and frame_exact_stats reads the frame layout
_PER_ITEM_KERNELS = {
    "image16_exact_stats": None,
    "image_alpha_stats": None,
    "image_color_stats": None,
    "image_dhash": None,
    "decode_image_meta": None,
    "resize_images": lambda fn, df: fn(df, (8, 8)),
    "image_features": None,
    "audio_stereo_stats": None,
    "audio_exact_stats": None,
    "audio_features": None,
    "resample_audio": lambda fn, df: fn(df, 8000),
    "image_exact_stats": None,
    "codec_census_stats": None,
    "frame_exact_stats": lambda fn, df: fn(
        df.select("media_id", F.lit(0).alias("frame_no"),
                  F.col("content").alias("frame"))
    ),
}


def _frame_header_pos(b: bytes) -> int:
    """The offset of the first frame header's marker in ``b`` (SOFn or
    DHP; all of them precede the first scan)."""
    pos = 2
    while b[pos + 1] not in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xDE):
        pos += 2 + int.from_bytes(b[pos + 2 : pos + 4], "big")
    return pos


def _patch_frame_dims(b: bytes, dim: int) -> bytes:
    """``b`` with the height and width of its first frame header set
    to ``dim``."""
    pos = _frame_header_pos(b)
    return b[: pos + 5] + dim.to_bytes(2, "big") * 2 + b[pos + 9 :]


# one encoder per JPEG frame class the decoders dispatch on
_JPEG_FRAME_CLASSES = {
    "sof0": lambda m, px: m.encode_jpeg(px),
    "sof1": lambda m, px: m.encode_jpeg12(px.astype(np.uint16) << 4),
    "sof2": lambda m, px: m.encode_jpeg_progressive(px),
    "sof3": lambda m, px: m.encode_jpeg_lossless(px),
    "sof9": lambda m, px: m.encode_jpeg_arith(px),
    "sof10": lambda m, px: m.encode_jpeg_arith_progressive(px),
    "dhp": lambda m, px: m.encode_jpeg_hierarchical(px),
}


@pytest.mark.parametrize("dim", [0, 0xFFF0])
@pytest.mark.parametrize("frame", list(_JPEG_FRAME_CLASSES))
def test_jpeg_implausible_frame_dims_raise_valueerror(frame, dim):
    """Every JPEG frame class refuses a zero or huge frame dimension
    with ValueError before it allocates a plane, so the kernels' catch
    in ``_decode_any`` turns such a file into a null row (a 0xFFF0 x
    0xFFF0 SOF0 header used to ask numpy for 32 GiB; a zero height
    decoded to an empty raster)."""
    from e_commerce_data_pipeline_spark.operators import multimodal as m

    px = m.make_test_pixels(16, 16, seed=4)
    good = _JPEG_FRAME_CLASSES[frame](m, px)
    assert m.decode_jpeg(good).shape[:2] == (16, 16)
    bad = _patch_frame_dims(good, dim)
    with pytest.raises(ValueError, match="implausible"):
        m.decode_jpeg(bad)
    assert m._decode_any(bad) == (None, None)


@pytest.mark.parametrize("name", list(_PER_ITEM_KERNELS))
def test_null_and_garbage_payloads_yield_one_null_row_each(spark, name):
    """A garbage payload, a null payload (MEDIA_SCHEMA allows null
    content), a JPEG whose frame header claims 0xFFF0 x 0xFFF0 pixels
    and a JPEG whose SOF0 marker is relabelled SOF11 (lossless
    arithmetic, a ``require_codec`` gate) each come back as one row
    keyed by media_id with every output column null — never as a task
    failure."""
    from e_commerce_data_pipeline_spark.operators import multimodal

    good = multimodal.encode_jpeg(multimodal.make_test_pixels(16, 16, seed=4))
    huge = _patch_frame_dims(good, 0xFFF0)
    pos = _frame_header_pos(good)
    gated = good[: pos + 1] + b"\xcb" + good[pos + 2 :]
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(b"garbage bytes"), 13, None),
            (2, "image", None, None, None),
            (3, "image", bytearray(huge), len(huge), None),
            (4, "image", bytearray(gated), len(gated), None),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    fn = getattr(multimodal, name)
    call = _PER_ITEM_KERNELS[name] or (lambda f, d: f(d))
    out = call(fn, df)
    keys = {"media_id", "frame_no"}
    rows = out.collect()
    assert sorted(r["media_id"] for r in rows) == [1, 2, 3, 4]
    for r in rows:
        assert all(r[c] is None for c in out.columns if c not in keys), r


def test_census_null_row_when_the_marker_walk_fails(spark):
    """A JPEG whose trailing segment is cut (EOI replaced by a
    truncated APP0 header) still decodes, but the census's marker
    walk cannot finish: the census row is null rather than a failed
    task."""
    from e_commerce_data_pipeline_spark.operators import multimodal as m

    good = m.encode_jpeg(m.make_test_pixels(16, 16, seed=4))
    cut = good[:-2] + b"\xff\xe0\x00"
    assert m._decode_any(cut)[0].shape == (16, 16, 3)
    with pytest.raises(ValueError):
        m.jpeg_marker_summary(cut)
    df = spark.createDataFrame(
        [(1, "image", bytearray(good), len(good), None),
         (2, "image", bytearray(cut), len(cut), None)],
        m.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in m.codec_census_stats(df).collect()}
    assert rows[1]["fmt"] == "jpeg" and rows[1]["n_px"] == 256
    assert all(v is None for k, v in rows[2].asDict().items()
               if k != "media_id")


def test_resize_real_pixels(spark):
    df = synthetic_media_table(spark, 10, real=True)
    resized = resize_images(df, (8, 8))
    meta = decode_image_meta(resized)
    assert all((r["width"], r["height"]) == (8, 8) for r in meta.collect())
    # nearest-neighbor correctness on one known image
    row = resized.filter(F.col("media_id") == 0).collect()[0]
    got = decode_bmp(bytes(row["content"]))
    src = make_test_pixels(16, 16, seed=0)
    iy = (np.arange(8) * 16) // 8  # nearest-neighbor index map 16 -> 8
    assert (got == src[iy][:, iy]).all()


def test_image_features_match_numpy(spark):
    df = synthetic_media_table(spark, 6, real=True)
    feats = {r["media_id"]: r for r in image_features(df).collect()}
    px = make_test_pixels(16, 16, seed=0).astype(np.float64)
    assert abs(feats[0]["mean_r"] - px[..., 0].mean()) < 1e-9
    lum = px @ np.array([0.2126, 0.7152, 0.0722])
    assert abs(feats[0]["luma_mean"] - lum.mean()) < 1e-9
    assert abs(feats[0]["luma_std"] - lum.std()) < 1e-9


def test_video_frame_sampling_decodes_only_kept_frames(spark):
    vids = []
    for i in range(4):
        frames = [
            encode_bmp(make_test_pixels(8, 8, seed=i * 100 + f)) for f in range(12)
        ]
        vids.append((i, "video", bytearray(encode_video(frames)), None, None))
    df = spark.createDataFrame(
        vids,
        "media_id long, media_type string, content binary, content_length long, source_uri string",
    )
    out = sample_video_frames(df, every_n=5)
    rows = out.collect()
    assert {r["frame_no"] for r in rows} == {0, 5, 10}
    assert out.groupBy("media_id").count().count() == 4
    # sampled frames decode to the exact source pixels
    r = [x for x in rows if x["media_id"] == 2 and x["frame_no"] == 5][0]
    assert (decode_bmp(bytes(r["frame"])) == make_test_pixels(8, 8, seed=205)).all()


def test_wav_roundtrip_and_features(spark):
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    # deterministic int16 sawtooth, mono and stereo
    t = np.arange(16000, dtype=np.int64)
    mono = ((t % 1000) * 60 - 30000).astype(np.int16)
    stereo = np.stack([mono, (-mono).astype(np.int16)], axis=1)
    got, rate = decode_wav(encode_wav(mono, 16000))
    assert rate == 16000 and (got[:, 0] == mono).all()
    got2, _ = decode_wav(encode_wav(stereo, 8000))
    assert (got2 == stereo).all()

    df = spark.createDataFrame(
        [
            (0, "audio", bytearray(encode_wav(mono, 16000)), None, None),
            (1, "audio", bytearray(encode_wav(stereo, 8000)), None, None),
            (2, "audio", bytearray(b"garbage"), None, None),
        ],
        "media_id long, media_type string, content binary, content_length long, source_uri string",
    )
    feats = {r["media_id"]: r for r in audio_features(df).collect()}
    assert feats[0]["sample_rate"] == 16000 and feats[0]["channels"] == 1
    assert abs(feats[0]["duration_sec"] - 1.0) < 1e-9
    f = mono.astype(np.float64) / 32768.0
    assert abs(feats[0]["rms"] - np.sqrt((f**2).mean())) < 1e-12
    assert feats[1]["channels"] == 2 and abs(feats[1]["duration_sec"] - 2.0) < 1e-9
    assert feats[2]["rms"] is None  # corrupt -> nulls, not task failure


def test_bmp_variant_family_roundtrip():
    """Round-8 BMP gate retirements: 32-bit BGRX, 8-bit paletted, and
    RLE8 all decode to the same RGB raster as their 24-bit sibling;
    corrupt palettes/streams raise ValueError, never escape types."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp8,
        encode_bmp32,
        make_test_pixels,
    )

    px = make_test_pixels(19, 13, seed=5)
    assert np.array_equal(decode_bmp(encode_bmp32(px)), px)
    pal = np.stack(
        [np.arange(256), (np.arange(256) + 85) % 256,
         (np.arange(256) + 170) % 256], axis=-1
    ).astype(np.uint8)
    idx = px[..., 0]  # the gradient's red channel IS a palette index
    assert np.array_equal(decode_bmp(encode_bmp8(idx, pal)), px)
    assert np.array_equal(decode_bmp(encode_bmp8(idx, pal, rle=True)), px)
    # run-heavy + mixed singles exercise encoded-run AND absolute mode
    small = np.array(
        [[0, 0, 0, 0, 1, 2, 3, 3, 3, 3, 3, 4, 1, 2],
         [1, 1, 1, 2, 2, 2, 2, 0, 4, 4, 4, 4, 4, 4]], np.uint8
    )
    spal = np.array(
        [[10, 20, 30], [40, 50, 60], [70, 80, 90], [1, 2, 3],
         [200, 100, 50]], np.uint8
    )
    assert np.array_equal(
        decode_bmp(encode_bmp8(small, spal, rle=True)), spal[small]
    )
    # palette index beyond clr_used -> loud, not a silent wrap
    bad = bytearray(encode_bmp8(np.array([[4]], np.uint8), spal))
    bad[46:50] = (2).to_bytes(4, "little")  # claim only 2 entries
    with pytest.raises(ValueError, match="palette"):
        decode_bmp(bytes(bad))
    # truncated RLE stream -> loud
    rle = encode_bmp8(small, spal, rle=True)
    with pytest.raises(ValueError):
        decode_bmp(rle[:-2])
    # BI_BITFIELDS R5G6B5: per-channel quantize + replicate expansion
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_bmp16_565,
    )

    d565 = decode_bmp(encode_bmp16_565(px))
    r5, g6, b5 = px[..., 0] >> 3, px[..., 1] >> 2, px[..., 2] >> 3
    exp565 = np.stack(
        [(r5 << 3) | (r5 >> 2), (g6 << 2) | (g6 >> 4), (b5 << 3) | (b5 >> 2)],
        axis=-1,
    ).astype(np.uint8)
    assert np.array_equal(d565, exp565)
    # overlapping masks are corrupt, not a variant
    bad565 = bytearray(encode_bmp16_565(px))
    bad565[54:58] = (0x0FE0).to_bytes(4, "little")  # overlaps green
    with pytest.raises(ValueError, match="overlap"):
        decode_bmp(bytes(bad565))


def test_bmp_container_family_os2_alphabitfields_embedded():
    """Second round-8 BMP sweep: OS/2 BITMAPCOREHEADER (12-byte
    header, BGR-triple palette), BI_ALPHABITFIELDS (4th mask
    validated + dropped; 10-bit samples return exactly via cyclic
    replication), generic mask widths outside the old 4..10 window,
    and BI_JPEG / BI_PNG embedded payloads routed to the in-house
    codecs with the header dimension cross-check."""
    import struct as st

    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp_a2r10g10b10,
        encode_bmp_embedded,
        encode_bmp_os2,
        encode_jpeg,
        encode_png,
        make_test_pixels,
    )

    px = make_test_pixels(23, 17, seed=4)
    # OS/2 24-bit truecolor and 8-bit paletted (BGR triples)
    assert np.array_equal(decode_bmp(encode_bmp_os2(px)), px)
    pal = np.stack(
        [np.arange(256), (np.arange(256) + 85) % 256,
         (np.arange(256) + 170) % 256], axis=-1
    ).astype(np.uint8)
    idx = px[..., 0]
    h, w = idx.shape
    row_bytes = w
    stride = row_bytes + ((-row_bytes) % 4)
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :w] = idx[::-1]
    off = 14 + 12 + 3 * 256
    core8 = (
        st.pack("<2sIHHI", b"BM", off + stride * h, 0, 0, off)
        + st.pack("<IHHHH", 12, w, h, 1, 8)
        + pal[:, ::-1].tobytes()
        + rows.tobytes()
    )
    assert np.array_equal(decode_bmp(core8), px)
    # A2R10G10B10 via BI_ALPHABITFIELDS: bit-exact
    assert np.array_equal(decode_bmp(encode_bmp_a2r10g10b10(px)), px)
    # alpha mask overlapping a color channel is corrupt
    bad = bytearray(encode_bmp_a2r10g10b10(px))
    bad[66:70] = st.pack("<I", 0x3FF << 20)  # alpha == red mask
    with pytest.raises(ValueError, match="overlap"):
        decode_bmp(bytes(bad))
    # BI_PNG: lossless embed, exact
    assert np.array_equal(
        decode_bmp(encode_bmp_embedded(encode_png(px), 23, 17, png=True)),
        px,
    )
    # BI_JPEG: block-constant gray embed decodes exactly
    tiles = np.array([[9, 130], [250, 66]], np.uint8)
    img = np.kron(tiles, np.ones((8, 8), np.uint8))
    rgb = np.stack([img] * 3, axis=-1)
    jb = encode_jpeg(rgb, quality=90)
    assert np.array_equal(
        decode_bmp(encode_bmp_embedded(jb, 16, 16, png=False)), rgb
    )
    # header/stream dimension mismatch is loud
    with pytest.raises(ValueError, match="dims"):
        decode_bmp(encode_bmp_embedded(jb, 17, 16, png=False))
    # a JPEG payload under a BI_PNG header fails as a PNG (loud)
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp_embedded(jb, 16, 16, png=True))
    # biBitCount must be 0 for embedded streams
    forged = bytearray(encode_bmp_embedded(jb, 16, 16, png=False))
    forged[28] = 24
    with pytest.raises(ValueError, match="invalid BMP header"):
        decode_bmp(bytes(forged))


def test_tiff_container_family_roundtrip_and_gates():
    """Baseline TIFF: none/PackBits/LZW/Deflate strips round-trip in
    both byte orders with and without the horizontal predictor and
    multi-strip layouts; gray photometrics 0/1 and 16-bit-entry
    palettes decode; the LZW EarlyChange width schedule matches
    libtiff's (decoder one entry early); tiled/planar/sub-byte
    variants gate; structural damage is loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        decode_tiff,
        encode_tiff,
        make_test_pixels,
    )

    px = np.asarray(make_test_pixels(23, 17, seed=4))
    g = px[..., 0]
    for comp in ("none", "packbits", "lzw", "deflate"):
        for be in (False, True):
            b = encode_tiff(px, compression=comp, big_endian=be,
                            predictor=(comp != "none"), rows_per_strip=5)
            assert np.array_equal(decode_tiff(b), px), (comp, be)
    # gray photometrics: BlackIsZero and the inverted WhiteIsZero
    for wiz in (False, True):
        b = encode_tiff(g, compression="lzw", white_is_zero=wiz)
        assert np.array_equal(decode_tiff(b), np.stack([g] * 3, -1)), wiz
    # palette: 16-bit ColorMap entries take the high byte
    pal = np.stack(
        [np.arange(256), (np.arange(256) + 85) % 256,
         (np.arange(256) + 170) % 256], -1
    ).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(g, compression="packbits", palette=pal)),
        px,
    )
    # 16-bit samples: full-range roundtrip at every compression in
    # both byte orders, predictor runs mod 65536, WhiteIsZero
    # inverts against 65535
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        make_test_pixels16,
    )

    px16 = np.asarray(make_test_pixels16(14, 10, seed=2))
    for comp in ("none", "packbits", "lzw", "deflate"):
        b = encode_tiff(px16, compression=comp, big_endian=(comp == "lzw"),
                        predictor=True, rows_per_strip=3)
        d = decode_tiff(b)
        assert d.dtype == np.uint16 and np.array_equal(d, px16), comp
    g16 = px16[..., 0]
    d = decode_tiff(encode_tiff(g16, compression="lzw", white_is_zero=True))
    assert np.array_equal(d, np.stack([g16] * 3, -1))
    # tiled organization: 16x16 tiles over non-multiple dims (padded
    # edge tiles cropped), predictor restarting per tile, 8/16-bit
    for arr in (px, px16):
        for comp in ("none", "lzw", "deflate"):
            b = encode_tiff(arr, compression=comp, tile=(16, 16),
                            predictor=True, big_endian=(comp == "lzw"))
            d = decode_tiff(b)
            assert d.dtype == arr.dtype and np.array_equal(d, arr), comp
    # planar (PlanarConfiguration 2): component-major strips
    for arr in (px, px16):
        b = encode_tiff(arr, compression="packbits", planar=True,
                        predictor=True, rows_per_strip=4)
        assert np.array_equal(decode_tiff(b), arr)
    # CMYK (photometric 5): the naive uncalibrated conversion
    # (full-ink)*(full-K)//full, 8- and 16-bit, strips and tiles
    yy2, xx2 = np.mgrid[0:11, 0:17]
    ci = ((xx2 * 5 + yy2 * 11 + 13) % 256).astype(np.int64)
    ki = ((xx2 * 3 + yy2 * 7 + 19) % 256).astype(np.int64)
    cmyk = np.stack(
        [ci, (ci + 85) % 256, (ci + 170) % 256, ki], -1
    ).astype(np.uint8)
    expc = np.stack(
        [((255 - ci) * (255 - ki)) // 255,
         ((255 - (ci + 85) % 256) * (255 - ki)) // 255,
         ((255 - (ci + 170) % 256) * (255 - ki)) // 255], -1
    ).astype(np.uint8)
    for comp in ("none", "lzw"):
        assert np.array_equal(
            decode_tiff(encode_tiff(cmyk, compression=comp,
                                    rows_per_strip=4)), expc), comp
    assert np.array_equal(
        decode_tiff(encode_tiff(cmyk, compression="deflate",
                                tile=(16, 16))), expc)
    d16 = decode_tiff(encode_tiff(
        (cmyk.astype(np.uint16) * 257), compression="packbits"))
    ik16 = 65535 - ki * 257
    assert d16.dtype == np.uint16 and np.array_equal(
        d16[..., 0], (((65535 - ci * 257) * ik16) // 65535).astype(
            np.uint16))
    # sub-byte (1/2/4-bit) gray: MSB-first row-padded packing, exact
    # 255/(2^d - 1) expansion, WhiteIsZero inversion pair, palette
    # indices at depth 4/1, tiled organization
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _media_palette,
    )

    for d in (1, 2, 4):
        q = (g >> (8 - d)).astype(np.uint8)
        exp = np.stack([q * (255 // ((1 << d) - 1))] * 3, -1).astype(
            np.uint8
        )
        for comp in ("none", "lzw"):
            for wiz in (False, True):
                b = encode_tiff(q, compression=comp, depth=d,
                                white_is_zero=wiz, rows_per_strip=5)
                assert np.array_equal(decode_tiff(b), exp), (d, comp, wiz)
        b = encode_tiff(q, compression="deflate", depth=d, tile=(16, 16))
        assert np.array_equal(decode_tiff(b), exp), ("tiled", d)
    pal16 = np.asarray(_media_palette(16, 17))
    idx = (g // 17).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(idx, compression="packbits", depth=4,
                                palette=pal16)),
        pal16[idx.reshape(-1)].reshape(*g.shape, 3),
    )
    # predictor on sub-byte samples is a spec violation
    sbb = bytearray(encode_tiff((g >> 4).astype(np.uint8), depth=4))
    ifd5 = int.from_bytes(sbb[4:8], "little")
    n5 = int.from_bytes(sbb[ifd5 : ifd5 + 2], "little")
    forged = (
        sbb[: ifd5 + 2]
        + bytes(sbb[ifd5 + 2 : ifd5 + 2 + 12 * n5])
        + (317).to_bytes(2, "little") + (3).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + (2).to_bytes(2, "little") + b"\x00\x00"
        + (0).to_bytes(4, "little")
    )
    forged = bytearray(forged)
    forged[ifd5 : ifd5 + 2] = (n5 + 1).to_bytes(2, "little")
    with pytest.raises(ValueError, match="predictor on sub-byte"):
        decode_tiff(bytes(forged))
    # review finding (round 8): a small file whose header declares a
    # huge PADDED tile grid (w=2^26, h=1, 4096x4096 tiles) must trip
    # the canvas guard, not attempt a multi-GB allocation
    import struct as st2

    bomb = bytearray(encode_tiff(px, tile=(16, 16)))
    ifd6 = int.from_bytes(bomb[4:8], "little")
    n6 = int.from_bytes(bomb[ifd6 : ifd6 + 2], "little")
    for k in range(n6):
        at = ifd6 + 2 + 12 * k
        tag = int.from_bytes(bomb[at : at + 2], "little")
        if tag == 256:
            bomb[at + 2 : at + 4] = st2.pack("<H", 4)  # SHORT -> LONG
            bomb[at + 8 : at + 12] = st2.pack("<I", 1 << 26)
        elif tag == 257:
            bomb[at + 2 : at + 4] = st2.pack("<H", 4)
            bomb[at + 8 : at + 12] = st2.pack("<I", 1)
        elif tag in (322, 323):
            bomb[at + 8 : at + 12] = st2.pack("<I", 4096)
    with pytest.raises(ValueError, match="implausibly large"):
        decode_tiff(bytes(bomb))
    # SamplesPerPixel cannot multiply buffers unboundedly either
    bomb2 = bytearray(encode_tiff(px))
    ifd7 = int.from_bytes(bomb2[4:8], "little")
    n7 = int.from_bytes(bomb2[ifd7 : ifd7 + 2], "little")
    for k in range(n7):
        at = ifd7 + 2 + 12 * k
        if int.from_bytes(bomb2[at : at + 2], "little") == 277:
            bomb2[at + 8 : at + 10] = st2.pack("<H", 65535)
    with pytest.raises(ValueError, match="SamplesPerPixel"):
        decode_tiff(bytes(bomb2))
    # tiled planar DECODES now (round-9 gate retirement, full
    # roundtrip in test_tiff_organization_gate_retirements); a planar
    # file with its RowsPerStrip tag renamed to TileLength is a
    # half-tiled corrupt header — loud, not gated
    pl = bytearray(encode_tiff(px, planar=True))
    ifd4 = int.from_bytes(pl[4:8], "little")
    n4 = int.from_bytes(pl[ifd4 : ifd4 + 2], "little")
    for k in range(n4):
        at = ifd4 + 2 + 12 * k
        if int.from_bytes(pl[at : at + 2], "little") == 278:
            pl[at : at + 2] = (323).to_bytes(2, "little")
    with pytest.raises(ValueError, match="tile"):
        decode_tiff(bytes(pl))
    # LZW: early-change boundary (table through 511/1022) and the
    # 4094 table reset both survive
    rng = np.random.RandomState(1)
    wide = rng.randint(0, 256, (40, 600)).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff(wide, compression="lzw"))[..., 0], wide
    )
    data = rng.randint(0, 256, 60000).astype(np.uint8).tobytes()
    assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data
    # gates: tiled layout, planar config, 16-bit samples
    b = bytearray(encode_tiff(px))
    ifd_off = int.from_bytes(b[4:8], "little")
    # renaming ImageWidth (256 -> 322) leaves a tiled-looking file
    # with no dimensions: corrupt, loud
    b[ifd_off + 2 : ifd_off + 4] = (322).to_bytes(2, "little")
    with pytest.raises(ValueError, match="missing dimensions"):
        decode_tiff(bytes(b))
    # corrupt: strip table pointing past the buffer
    short = encode_tiff(px, compression="none")
    with pytest.raises(ValueError):
        decode_tiff(short[:60])
    # corrupt strip table: StripByteCounts (tag 279, 9th sorted
    # entry) claiming 3 bytes starves the PackBits decode
    pb = bytearray(encode_tiff(px, compression="packbits"))
    ifd2 = int.from_bytes(pb[4:8], "little")
    val_at = ifd2 + 2 + 12 * 8 + 8
    assert int.from_bytes(pb[val_at - 8 : val_at - 6], "little") == 279
    pb[val_at : val_at + 4] = (3).to_bytes(4, "little")
    with pytest.raises(ValueError, match="PackBits"):
        decode_tiff(bytes(pb))


def test_ccitt_fax_tiff_spec_vectors_roundtrip_and_gates():
    """CCITT G3/G4 fax TIFF (compressions 2/3/4): hand-checked T.4
    code vectors (white-1 000111, black-1 010, black make-up-64
    0000001111, zero-length leading white run, G4 all-white V0 rows
    and EOFB, G4 H-mode white-5 1100), roundtrips across all four
    coding modes x patterns x strip layouts x byte orders, run
    lengths through the make-up (>=64) and extended make-up (>=1792)
    ranges, and — round 10, gates retired — TILED fax (per-tile
    independent coding blocks, partial edge tiles) and T.4
    UNCOMPRESSED MODE (entry extension 0000001-111, literal codes,
    0^(6+n)-1-T exit) round-trip across codings; a forged
    uncompressed option bit on a plain stream still decodes (the
    bit only PERMITS the codes); color/planar/multi-bit CCITT
    combinations are structural damage (ValueError)."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _CcittBitWriter,
        _ccitt_encode_row_1d,
        ccitt_decode,
        ccitt_encode,
        decode_tiff,
        encode_tiff,
    )

    # T.4 table vectors: row [0,1] = white run 1 (000111) + black
    # run 1 (010) -> byte-aligned 00011101 0;  a row starting black
    # gets a zero-length white terminating code (00110101) first,
    # and 70 black = make-up 64 (0000001111) + term 6 (0010)
    wr = _CcittBitWriter()
    _ccitt_encode_row_1d(wr, np.array([0, 1], np.uint8))
    wr.align()
    assert wr.bytes() == bytes([0b00011101, 0b00000000])
    wr = _CcittBitWriter()
    _ccitt_encode_row_1d(wr, np.ones(70, np.uint8))
    bits = "".join(f"{x:08b}" for x in wr.bytes())
    assert bits.startswith("00110101" + "0000001111" + "0010")
    # G4: all-white rows are one V0 bit each, then EOFB (2 EOLs)
    bits = "".join(
        f"{x:08b}" for x in ccitt_encode(np.zeros((10, 100), np.uint8), 4)
    )
    assert bits.startswith("1" * 10 + "000000000001" * 2)
    # G4: single black pixel at x=5 -> H mode (001), white 5 (1100),
    # black 1 (010), then V0 closes the row
    one_px = np.zeros((1, 100), np.uint8)
    one_px[0, 5] = 1
    bits = "".join(f"{x:08b}" for x in ccitt_encode(one_px, 4))
    assert bits.startswith("001" + "1100" + "010" + "1")
    # roundtrip: modes x patterns x organizations (strips, 16x16
    # tiles, uncompressed-mode prefixes) x byte order through the
    # full TIFF container, including make-up-range widths
    rng = np.random.RandomState(5)
    for trial in range(24):
        h, w = rng.randint(1, 30), rng.randint(1, 300)
        plane = (rng.rand(h, w) < (0.05, 0.5, 0.95)[trial % 3]).astype(
            np.uint8
        )
        for compr in ("ccitt_mh", "g3", "g3_2d", "g4"):
            b = encode_tiff(plane, compression=compr, depth=1,
                            white_is_zero=True,
                            rows_per_strip=6 if trial % 2 else 0,
                            big_endian=bool(trial % 2),
                            tile=(16, 16) if trial % 4 == 2 else None,
                            ccitt_uncompressed=(
                                compr in ("g3_2d", "g4")
                                and trial % 3 != 1
                            ))
            assert np.array_equal(
                decode_tiff(b), np.stack([plane * 255] * 3, -1)
            ), (trial, compr)
    # extended make-up range: a 6000-wide mostly-constant image
    wide = np.zeros((2, 6000), np.uint8)
    wide[0, 5990:] = 1
    wide[1, :3000] = 1
    for comp, t2d in ((2, False), (3, True), (4, False)):
        dec = ccitt_decode(ccitt_encode(wide, comp, t4_2d=t2d),
                           6000, 2, comp, t4_2d=t2d)
        assert np.array_equal(dec, wide), comp
    # the T4Options uncompressed bit forged onto a plain G3 file is
    # harmless — it only PERMITS uncompressed codes (gate retired)
    g3 = bytearray(encode_tiff(one_px[0:1].repeat(4, 0), depth=1,
                               compression="g3"))
    ifd = int.from_bytes(g3[4:8], "little")
    n = int.from_bytes(g3[ifd : ifd + 2], "little")
    for k in range(n):
        at = ifd + 2 + 12 * k
        if int.from_bytes(g3[at : at + 2], "little") == 292:
            g3[at + 8 : at + 12] = st.pack("<I", 0b10)
    assert decode_tiff(bytes(g3)).shape == (4, 100, 3)
    # a truncated uncompressed segment is loud, typed damage
    unc = ccitt_encode(one_px[0:1].repeat(4, 0), 4, uncompressed=True)
    with pytest.raises(ValueError):
        ccitt_decode(unc[:3], 100, 4, 4)
    # damage: CCITT with 8-bit samples is a corrupt header, not a gate
    g4 = bytearray(encode_tiff(one_px, depth=1, compression="g4"))
    ifd = int.from_bytes(g4[4:8], "little")
    n = int.from_bytes(g4[ifd : ifd + 2], "little")
    for k in range(n):
        at = ifd + 2 + 12 * k
        if int.from_bytes(g4[at : at + 2], "little") == 258:
            g4[at + 8 : at + 10] = st.pack("<H", 8)
    with pytest.raises(ValueError, match="bilevel"):
        decode_tiff(bytes(g4))


def test_pcx_layouts_roundtrip_and_guards():
    """PCX: 24bpp three-plane, 8bpp VGA-paletted (0x0C trailer),
    1bpp monochrome, and — round 10, gates retired — EGA 2/3/4
    bit-plane and packed-4bpp layouts (16-entry header palette)
    round-trip through version-5 RLE (runs capped at 63, >=0xC0
    literals forced into runs, even bytes-per-line padding);
    _decode_any dispatches on the 0x0A magic + RLE byte; missing
    palette trailers, truncated RLE, and a forged plane count (data
    for one plane, header claiming four) raise ValueError."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_any,
        decode_pcx,
        encode_pcx,
    )

    rng = np.random.RandomState(17)
    for trial in range(20):
        h, w = rng.randint(1, 28), rng.randint(1, 28)
        kind = trial % 5
        if kind == 0:
            a = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            b = encode_pcx(a)
            want = a
        elif kind == 1:
            pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
            idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
            b = encode_pcx(idx, palette=pal)
            want = pal[idx.reshape(-1)].reshape(h, w, 3)
        elif kind == 2:
            a = rng.randint(0, 2, (h, w)).astype(np.uint8)
            b = encode_pcx(a)
            want = np.repeat((a * 255).astype(np.uint8)[..., None], 3, 2)
        elif kind == 3:
            planes = 2 + trial % 3
            pal16 = rng.randint(0, 256, (16, 3)).astype(np.uint8)
            idx = rng.randint(0, 1 << planes, (h, w)).astype(np.uint8)
            b = encode_pcx(idx, ega_planes=planes, palette16=pal16)
            want = pal16[idx.reshape(-1).astype(np.int64)].reshape(
                h, w, 3
            )
        else:
            pal16 = rng.randint(0, 256, (16, 3)).astype(np.uint8)
            idx = rng.randint(0, 16, (h, w)).astype(np.uint8)
            b = encode_pcx(idx, bpp4=True, palette16=pal16)
            want = pal16[idx.reshape(-1).astype(np.int64)].reshape(
                h, w, 3
            )
        assert np.array_equal(decode_pcx(b), want), (trial, kind)
        px, fmt = _decode_any(b)
        assert fmt == "pcx" and np.array_equal(px, want)
    # missing VGA trailer on an 8bpp file is loud
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    b = encode_pcx(rng.randint(0, 256, (5, 6)).astype(np.uint8),
                   palette=pal)
    with pytest.raises(ValueError, match="palette"):
        decode_pcx(b[:-769])
    # a forged plane count (1bpp data, header claims 4 planes) is
    # structural damage — the stream runs out before the raster fills
    g = bytearray(encode_pcx(rng.randint(0, 2, (5, 6)).astype(np.uint8)))
    g[65] = 4  # planes
    with pytest.raises(ValueError):
        decode_pcx(bytes(g))
    # still-gated layouts (8bpp x 4 planes) stay honest
    g = bytearray(encode_pcx(rng.randint(0, 2, (5, 6)).astype(np.uint8)))
    g[3] = 8  # bpp
    g[65] = 4  # planes
    with pytest.raises(NotImplementedError):
        decode_pcx(bytes(g))
    # 2bpp CGA-class through the header palette (round 10)
    pal16 = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx2 = rng.randint(0, 4, (7, 11)).astype(np.uint8)
    assert np.array_equal(
        decode_pcx(encode_pcx(idx2, bpp2=True, palette16=pal16)),
        pal16[idx2.reshape(-1).astype(np.int64)].reshape(7, 11, 3),
    )
    # truncated RLE stream
    b24 = encode_pcx(rng.randint(0, 256, (9, 8, 3)).astype(np.uint8))
    with pytest.raises(ValueError):
        decode_pcx(b24[:140])


def test_ico_entries_roundtrip_masks_and_tga_collision():
    """ICO/CUR: PNG, 32bpp-DIB, and 24bpp-DIB entries round-trip
    (alpha from the channel when non-zero anywhere, else from the
    AND mask — the dual favicon convention); a hand-built 8bpp
    paletted DIB resolves BGRA palette entries and the mask;
    decode_ico picks the largest entry; and the dispatch
    disambiguates the CUR-magic / raw-truecolor-TGA collision (both
    start 00 00 02 00) via the entry-count byte and the TGA
    footer."""
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_any,
        decode_ico,
        decode_ico_entries,
        encode_ico,
        encode_tga,
    )

    rng = np.random.RandomState(16)
    for trial in range(10):
        entries = []
        for k in range(1 + trial % 3):
            hh, ww = rng.randint(1, 30), rng.randint(1, 30)
            a = rng.randint(0, 256, (hh, ww, 4)).astype(np.uint8)
            kind = ("png", "bmp", "bmp24", "bmp16")[(trial + k) % 4]
            if kind == "bmp24":
                a[..., 3] = np.where(a[..., 3] < 128, 0, 255)
            elif kind == "bmp":
                a[..., 3] = np.where(a[..., 3] < 16, 0, a[..., 3])
            elif kind == "bmp16":
                # X1R5G5B5 storage: top-5-bit channels bit-replicate,
                # mask-only binary transparency (gate retired r10)
                c5 = a[..., :3] >> 3
                a[..., :3] = (c5 << 3) | (c5 >> 2)
                a[..., 3] = np.where(a[..., 3] < 128, 0, 255)
            entries.append((a, kind))
        b = encode_ico(entries)
        got = decode_ico_entries(b)
        for g, (a, _) in zip(got, entries):
            assert np.array_equal(g, a), trial
        largest = max((a for a, _ in entries),
                      key=lambda x: x.shape[0] * x.shape[1])
        assert np.array_equal(decode_ico(b), largest)
        px, fmt = _decode_any(b)
        assert fmt == "ico" and np.array_equal(px, largest)
    # hand-built 8bpp paletted DIB entry (BGRA palette + AND mask)
    h, w = 6, 9
    pal = rng.randint(0, 256, (256, 4)).astype(np.uint8)
    idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
    alpha = rng.randint(0, 2, (h, w)).astype(np.uint8) * 255
    rb = (w + 7) // 8
    mstride = rb + ((-rb) % 4)
    mask = np.zeros((h, mstride), np.uint8)
    mask[:, :rb] = np.packbits((alpha == 0).astype(np.uint8)[::-1],
                               axis=1)
    stride = w + ((-w) % 4)
    xr = np.zeros((h, stride), np.uint8)
    xr[:, :w] = idx[::-1]
    hdr = st.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 8, 0, 0, 0, 0, 0, 0)
    payload = hdr + pal.tobytes() + xr.tobytes() + mask.tobytes()
    ico = (st.pack("<HHH", 0, 1, 1)
           + st.pack("<BBBBHHII", w, h, 0, 0, 1, 8, len(payload), 22)
           + payload)
    got = decode_ico(ico)
    assert np.array_equal(
        got[..., :3],
        pal[:, [2, 1, 0]][idx.reshape(-1).astype(np.int64)].reshape(
            h, w, 3),
    )
    assert np.array_equal(got[..., 3], alpha)
    # raw truecolor TGA starts 00 00 02 00 — must NOT dispatch as CUR
    a = rng.randint(0, 256, (7, 9, 3)).astype(np.uint8)
    tga = encode_tga(a, rle=False, top_down=True)
    assert tga[:4] == b"\x00\x00\x02\x00"
    px, fmt = _decode_any(tga)
    assert fmt == "tga" and np.array_equal(px, a)


def test_pnm_family_roundtrip_parse_and_guards():
    """netpbm P1-P5: every variant round-trips (ASCII bitmap with
    abutting digits and comments, graymap/pixmap at maxval 255/15/
    100 with round-half-up scaling, packed binary bitmap, 8/16-bit
    binary graymap); _decode_any dispatches on the magic; samples
    over maxval and truncated rasters raise ValueError."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_any,
        decode_pnm,
        encode_pnm,
    )

    rng = np.random.RandomState(15)
    for trial in range(20):
        h, w = rng.randint(1, 22), rng.randint(1, 22)
        v = ("P1", "P2", "P3", "P4", "P5")[trial % 5]
        if v in ("P1", "P4"):
            a = rng.randint(0, 2, (h, w))
            b = encode_pnm(a, v)
            want = np.repeat(
                ((1 - a) * 255).astype(np.uint8)[..., None], 3, 2
            )
        elif v == "P5" and trial % 2:
            a = rng.randint(0, 65536, (h, w))
            b = encode_pnm(a, v, maxval=65535)
            want = np.repeat(a.astype(np.uint16)[..., None], 3, 2)
        else:
            mv = (255, 15, 100)[trial % 3]
            a = rng.randint(0, mv + 1,
                            (h, w, 3) if v == "P3" else (h, w))
            b = encode_pnm(a, v, maxval=mv)
            scaled = ((a * 255 + mv // 2) // mv).astype(np.uint8)
            want = scaled if v == "P3" else np.repeat(
                scaled[..., None], 3, 2)
        assert np.array_equal(decode_pnm(b), want), (trial, v)
        px, fmt = _decode_any(b)
        assert fmt == "pnm" and np.array_equal(px, want)
    # abutting P1 digits + comments mid-raster parse per spec
    got = decode_pnm(b"P1\n# c\n4 2\n1011\n# mid\n0100\n")
    assert list(got[0, :, 0]) == [0, 255, 0, 0]
    assert list(got[1, :, 0]) == [255, 0, 255, 255]
    # a P2 sample above maxval is structural damage
    with pytest.raises(ValueError, match="maxval"):
        decode_pnm(b"P2\n2 1\n15\n3 16\n")
    with pytest.raises(ValueError):
        decode_pnm(b"P4\n9 4\n\x00\x01")  # truncated raster


def test_tiff_float_samples_roundtrip_quantization_and_gates():
    """Float TIFF (SampleFormat 3): float32/float64 gray and RGB
    round-trip bit-exact through all four codecs, both byte orders,
    and — round 10, gates retired — the TechNote-3 floating-point
    predictor, 16x16 tile grids with partial edge tiles, and planar
    configuration, in every combination the corpus rotates.
    _decode_any surfaces rint(v*16) micro-quantized ints (fmt
    'tiff_f'); non-finite samples are loud; a FORGED predictor tag
    on non-predicted data either raises ValueError or decodes to
    finite (wrong) floats — never a foreign exception; integer
    predictor 2 on float data stays a spec violation; decode_tiff
    still gates SampleFormat 3 (separate contract)."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_any,
        decode_tiff,
        decode_tiff_float,
        encode_tiff_float,
    )

    rng = np.random.RandomState(14)
    for trial in range(24):
        h, w = rng.randint(1, 24), rng.randint(1, 24)
        spp = 1 if trial % 2 == 0 else 3
        shape = (h, w) if spp == 1 else (h, w, 3)
        a = rng.randint(0, 256, shape) + rng.randint(0, 16, shape) / 16.0
        b = encode_tiff_float(
            a, compression=("none", "packbits", "lzw", "deflate")[trial % 4],
            big_endian=bool(trial % 2),
            rows_per_strip=3 if trial % 3 else 0,
            f64=(trial % 3 == 0),
            predictor=(trial % 5 < 3),
            tile=(16, 16) if trial % 6 >= 3 else None,
            planar=(trial % 4 >= 2),
        )
        want = a[..., None] if spp == 1 else a
        assert np.array_equal(decode_tiff_float(b), want), trial
        q, fmt = _decode_any(b)
        assert fmt == "tiff_f" and q.shape[2] == 3
        assert np.array_equal(
            q[..., 0], np.rint(want[..., 0] * 16).astype(np.int64)
        )
        with pytest.raises(NotImplementedError, match="sample format"):
            decode_tiff(b)
    # NaN samples are structural damage, not silent propagation
    bad = np.zeros((3, 4), np.float64)
    bb = bytearray(encode_tiff_float(bad))
    bb[8:12] = st.pack("<f", float("nan"))  # first strip sample
    with pytest.raises(ValueError, match="non-finite"):
        decode_tiff_float(bytes(bb))
    # a forged predictor tag (3) appended to non-predicted data must
    # stay inside the damage contract: ValueError or a finite decode
    fp = bytearray(encode_tiff_float(np.ones((3, 4)) * 0.5))
    ifd = int.from_bytes(fp[4:8], "little")
    n = int.from_bytes(fp[ifd : ifd + 2], "little")
    forged = (
        fp[: ifd + 2]
        + bytes(fp[ifd + 2 : ifd + 2 + 12 * n])
        + (317).to_bytes(2, "little") + (3).to_bytes(2, "little")
        + (1).to_bytes(4, "little") + (3).to_bytes(2, "little")
        + b"\x00\x00" + (0).to_bytes(4, "little")
    )
    forged = bytearray(forged)
    forged[ifd : ifd + 2] = (n + 1).to_bytes(2, "little")
    try:
        out = decode_tiff_float(bytes(forged))
        assert np.isfinite(out).all()
    except ValueError:
        pass
    # integer predictor 2 on float data is a spec violation
    ip = bytearray(forged)
    pos = bytes(ip).find((317).to_bytes(2, "little")
                         + (3).to_bytes(2, "little"))
    ip[pos + 8] = 2  # predictor value field
    with pytest.raises(ValueError, match="integer predictor"):
        decode_tiff_float(bytes(ip))
    # genuinely predicted data through the forged-tag route decodes
    pr = encode_tiff_float(np.arange(12.0).reshape(3, 4) / 16.0,
                           predictor=True, tile=(16, 16), planar=True)
    assert np.array_equal(
        decode_tiff_float(pr)[..., 0], np.arange(12.0).reshape(3, 4) / 16.0
    )


def test_tga_and_au_containers_roundtrip_and_guards():
    """TGA: every supported layout (15/16/24/32bpp truecolor, gray
    at 8-bit and 16-bit gray+attribute, color-mapped with
    15/16/24-bit entries and nonzero first-entry offsets — the
    round-10 gate retirements; RLE and raw; both orientations)
    round-trips, the v2.0 footer signature drives _decode_any
    dispatch, and RLE overruns/truncations and out-of-map indices
    raise ValueError. AU (.snd): mu-law/A-law payloads expand
    through the same tables as WAV formats 6/7, signed 8/16/24-bit
    big-endian PCM decodes with house dtypes, float encodings
    decode (round 10), ADPCM encodings gate."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _AU_FMT_CODE,
        _decode_any,
        _decode_wav_full,
        alaw_expand,
        decode_tga,
        encode_au,
        encode_tga,
        ulaw_expand,
    )

    def rep5(a):
        c5 = a >> 3
        return ((c5 << 3) | (c5 >> 2)).astype(np.uint8)

    rng = np.random.RandomState(13)
    for trial in range(32):
        h, w = rng.randint(1, 25), rng.randint(1, 25)
        rle, td = bool(trial % 2), bool(trial % 3)
        kind = trial % 8
        if kind == 0:
            a = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            b = encode_tga(a, rle=rle, top_down=td)
            want = a
        elif kind == 1:
            a = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
            b = encode_tga(a, rle=rle, top_down=td)
            want = a
        elif kind == 2:
            a = rng.randint(0, 256, (h, w)).astype(np.uint8)
            b = encode_tga(a, rle=rle, top_down=td)
            want = np.stack([a] * 3, -1)
        elif kind == 3:
            pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
            idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
            b = encode_tga(idx, rle=rle, top_down=td, palette=pal)
            want = pal[idx.reshape(-1)].reshape(h, w, 3)
        elif kind == 4:
            a = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            b = encode_tga(a, rle=rle, top_down=td, bpp16=True,
                           depth15=bool(trial % 5 == 4))
            want = rep5(a)
        elif kind == 5:
            # 15/16-bit colormap entries, bit-replicated on decode
            pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
            idx = rng.randint(0, 256, (h, w)).astype(np.uint8)
            b = encode_tga(idx, rle=rle, top_down=td, palette=pal,
                           pal_bits=15 if trial % 5 else 16)
            want = rep5(pal)[idx.reshape(-1)].reshape(h, w, 3)
        elif kind == 6:
            # nonzero first-entry offset: absolute indices
            first = rng.randint(1, 120)
            pal = rng.randint(0, 256, (100, 3)).astype(np.uint8)
            idx = (first + rng.randint(0, 100, (h, w))).astype(np.uint8)
            b = encode_tga(idx, rle=rle, top_down=td, palette=pal,
                           cm_first=first)
            want = pal[idx.reshape(-1).astype(np.int64) - first].reshape(
                h, w, 3
            )
        else:
            # gray + attribute byte -> RGBA
            ga = rng.randint(0, 256, (h, w, 2)).astype(np.uint8)
            b = encode_tga(ga, rle=rle, top_down=td, gray_alpha=True)
            g = ga[..., 0]
            want = np.stack([g, g, g, ga[..., 1]], -1)
        assert np.array_equal(decode_tga(b), want), (trial, kind)
        px, fmt = _decode_any(b)
        assert fmt == "tga" and np.array_equal(px, want)
    # an index below cm_first is outside the stored map — loud
    pal = rng.randint(0, 256, (50, 3)).astype(np.uint8)
    idx = np.full((3, 4), 40, np.uint8)
    bad = encode_tga(idx, palette=pal, cm_first=41)
    with pytest.raises(ValueError, match="colormap"):
        decode_tga(bad)
    # RLE raster overrun is loud
    a = rng.randint(0, 256, (5, 7, 3)).astype(np.uint8)
    b = bytearray(encode_tga(a, rle=True))
    b[18] = 0xFF  # first packet claims a 128-pixel run
    with pytest.raises(ValueError):
        decode_tga(bytes(b))
    # AU containers
    codes = rng.randint(0, 256, 300).astype(np.uint8)
    for enc, want in ((1, ulaw_expand(codes)), (27, alaw_expand(codes))):
        s, rate, fc, bits = _decode_wav_full(encode_au(codes, enc, 8000))
        assert fc == _AU_FMT_CODE and rate == 8000
        assert np.array_equal(s[:, 0], want.astype(np.int16)), enc
    s16 = rng.randint(-30000, 30000, 200)
    s, _, _, bits = _decode_wav_full(encode_au(s16, 3, 16000))
    assert bits == 16 and np.array_equal(s[:, 0], s16)
    s24 = rng.randint(-(1 << 23), 1 << 23, 200)
    s, _, _, bits = _decode_wav_full(encode_au(s24, 4, 48000))
    assert bits == 24 and np.array_equal(s[:, 0], s24)
    # float encodings decode (gate retired round 10); the ADPCM
    # encodings (23+) stay honestly gated
    import struct as st

    hdr = st.pack(">4sIIIII", b".snd", 24, 8, 6, 8000, 1) + b"\x00" * 8
    s, rate, fc, bits = _decode_wav_full(hdr)
    assert bits == 32 and s.dtype == np.float32 and s.shape == (2, 1)
    g721 = st.pack(">4sIIIII", b".snd", 24, 8, 23, 8000, 1) + b"\x00" * 8
    with pytest.raises(NotImplementedError):
        _decode_wav_full(g721)


def test_apng_compositing_reference_and_guards():
    """APNG: rendered canvases match an independent straight-alpha
    reference compositor across random frame stacks (all dispose and
    blend ops, fractional alpha); a plain decode_png of the same
    bytes reads the default image; first-frame conventions apply
    (blend demotes to SOURCE, dispose PREVIOUS to BACKGROUND);
    sequence-number gaps and out-of-canvas rects raise ValueError;
    a plain PNG is not an APNG."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_apng_frames,
        decode_png,
        encode_apng,
        encode_png,
    )

    rng = np.random.RandomState(12)

    def composite_ref(frames, screen):
        sw, sh = screen
        canvas = np.zeros((sh, sw, 4), np.float64)
        outs = []
        for k, (arr, (ox, oy), dispose, blend) in enumerate(frames):
            a = np.asarray(arr, np.float64)
            if k == 0:
                blend = 0
                if dispose == 2:
                    dispose = 1
            fh, fw = a.shape[:2]
            region = canvas[oy : oy + fh, ox : ox + fw]
            before = region.copy()
            if blend == 0:
                region[:] = a
            else:
                sa = a[..., 3:4] / 255.0
                da = region[..., 3:4] / 255.0
                oa = sa + da * (1 - sa)
                rgb = a[..., :3] * sa + region[..., :3] * da * (1 - sa)
                safe = np.where(oa == 0, 1.0, oa)
                region[..., :3] = np.where(oa == 0, 0.0, rgb / safe)
                region[..., 3:4] = oa * 255.0
            outs.append(np.clip(np.rint(canvas), 0, 255).astype(np.uint8))
            if dispose == 1:
                canvas[oy : oy + fh, ox : ox + fw] = 0.0
            elif dispose == 2:
                canvas[oy : oy + fh, ox : ox + fw] = before
        return outs

    for trial in range(12):
        sw, sh = rng.randint(8, 28), rng.randint(8, 22)
        frames = [(rng.randint(0, 256, (sh, sw, 4)).astype(np.uint8),
                   (0, 0), rng.randint(0, 3), 0)]
        for _ in range(rng.randint(0, 4)):
            fw, fh = rng.randint(1, sw + 1), rng.randint(1, sh + 1)
            ox = rng.randint(0, sw - fw + 1)
            oy = rng.randint(0, sh - fh + 1)
            frames.append(
                (rng.randint(0, 256, (fh, fw, 4)).astype(np.uint8),
                 (ox, oy), rng.randint(0, 3), rng.randint(0, 2))
            )
        b = encode_apng(frames, (sw, sh))
        got = decode_apng_frames(b)
        want = composite_ref(frames, (sw, sh))
        assert len(got) == len(want)
        for k, (g, w) in enumerate(zip(got, want)):
            assert np.array_equal(g, w), (trial, k)
        assert np.array_equal(decode_png(b), frames[0][0])
    # a plain PNG has no acTL
    with pytest.raises(ValueError, match="acTL"):
        decode_apng_frames(
            encode_png(rng.randint(0, 256, (6, 7, 3)).astype(np.uint8))
        )
    # forged fdAT sequence number is loud
    frames = [(rng.randint(0, 256, (8, 10, 4)).astype(np.uint8),
               (0, 0), 0, 0),
              (rng.randint(0, 256, (4, 5, 4)).astype(np.uint8),
               (2, 2), 0, 1)]
    b = bytearray(encode_apng(frames, (10, 8)))
    pos = b.find(b"fdAT")
    import struct as st
    import zlib as zl

    (ln,) = st.unpack_from(">I", b, pos - 4)
    b[pos + 4 : pos + 8] = st.pack(">I", 9)
    b[pos + 4 + ln : pos + 8 + ln] = st.pack(
        ">I", zl.crc32(bytes(b[pos : pos + 4 + ln])) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="sequence"):
        decode_apng_frames(bytes(b))


def test_apng_total_rendered_area_guard():
    """A crafted APNG whose canvas passes the per-canvas cap but
    whose frame_count x canvas product is multi-GB of rendered RGBA
    output raises BEFORE any frame decompression/compositing (the
    allocation guard bounds TOTAL work, matching the other
    decoders). The guard fires on chunk metadata alone — frame
    payloads here are never even inflated."""
    import struct as st
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_apng_frames,
    )

    sw, sh, nframes = 5000, 3000, 5  # 15 Mpx canvas (< 2^24) x 5 > 2^26
    out = bytearray(_PNG_SIG)
    out += _png_chunk(
        b"IHDR", st.pack(">IIBBBBB", sw, sh, 8, 6, 0, 0, 0)
    )
    out += _png_chunk(b"acTL", st.pack(">II", nframes, 0))
    for seq in range(nframes):
        out += _png_chunk(
            b"fcTL",
            st.pack(">IIIIIHHBB", seq, sw, sh, 0, 0, 1, 10, 0, 0),
        )
    out += _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="total rendered area"):
        decode_apng_frames(bytes(out))


def test_flac_md5_sample_byte_width():
    """RFC 9639 §9.1.5: the STREAMINFO MD5 is computed over
    ceil(bps/8)-byte little-endian channel-interleaved samples. A
    12-bit stream therefore hashes TWO bytes per sample and a 20-bit
    stream THREE — the regression here (ADVICE r9) emitted 3 bytes
    for every bps other than 8/16, so a spec-valid external 12-bit
    FLAC decoded correctly and was then rejected by the MD5 net.
    Asserts the embedded STREAMINFO MD5 equals an independently
    packed reference for every supported width, that 12/20-bit
    streams round-trip, and that a forged MD5 still raises."""
    import hashlib
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(21)
    for bps in (8, 12, 16, 20, 24):
        lim = 1 << (bps - 1)
        nch = 2 if bps in (12, 20) else 1
        a = rng.randint(-lim, lim, size=(700, nch))
        enc = encode_flac(a, 32000, bps=bps, blocksize=256)
        width = (bps + 7) // 8
        ref = bytearray()
        for v in a.reshape(-1):
            ref += int(v & ((1 << (8 * width)) - 1)).to_bytes(
                width, "little"
            )
        want = hashlib.md5(bytes(ref)).digest()
        assert enc[26:42] == want, bps  # fLaC(4)+hdr(4)+streaminfo(18)
        dec, rate, dbps = decode_flac(enc)
        assert dbps == bps and np.array_equal(dec, a), bps
    # the MD5 net still catches forged signatures
    bad = bytearray(encode_flac(rng.randint(-2048, 2048, size=500),
                                16000, bps=12))
    bad[30] ^= 0xFF
    with pytest.raises(ValueError, match="MD5"):
        decode_flac(bytes(bad))


def test_aiff_container_roundtrip_and_extended_rate():
    """AIFF/AIFC: big-endian PCM at 8 (signed)/16/24-bit and the
    little-endian 'sowt' AIFC layout round-trip through the audio
    entry point with WAV-consistent dtypes; the 80-bit-extended
    sample-rate field packs/unpacks integer rates exactly; other
    AIFC compression types gate; corrupt exponents and short chunks
    raise ValueError."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _AIFF_FMT_CODE,
        _decode_wav_full,
        _ieee754_extended_pack,
        _ieee754_extended_unpack,
        encode_aiff,
    )

    for r in (8000, 11025, 16000, 22050, 44100, 48000, 96000):
        assert _ieee754_extended_unpack(
            _ieee754_extended_pack(float(r))) == float(r)
    rng = np.random.RandomState(8)
    for trial in range(12):
        nch = 1 + trial % 2
        n = rng.randint(1, 1500)
        bits = (8, 16, 24)[trial % 3]
        lim = 1 << (bits - 1)
        a = rng.randint(-lim, lim, size=(n, nch))
        b = encode_aiff(a, 22050, bits=bits, sowt=(trial % 4 == 3))
        s, rate, fc, bb = _decode_wav_full(b)
        assert (rate, fc, bb) == (22050, _AIFF_FMT_CODE, bits)
        want = a * 256 if bits == 8 else a
        assert np.array_equal(s, want.reshape(n, nch)), trial
    # AIFC with an unknown compression type gates (ima4 and the
    # float/G.711 types all retired r10 — MAC3 stays library-class)
    b = bytearray(encode_aiff(np.arange(40) - 20, 8000, sowt=True))
    pos = b.find(b"sowt")
    b[pos : pos + 4] = b"MAC3"
    with pytest.raises(NotImplementedError):
        _decode_wav_full(bytes(b))
    # corrupt extended-float exponent must not overflow
    b = bytearray(encode_aiff(np.arange(40) - 20, 8000))
    pos = b.find(b"COMM") + 8 + 8  # extended-float field
    b[pos] = 0x7F
    b[pos + 1] = 0xFE
    with pytest.raises(ValueError):
        _decode_wav_full(bytes(b))


def test_aifc_float_g711_and_au_float_variants():
    """Round-10 audio container variants: AIFC 'fl32'/'fl64'
    (big-endian IEEE floats, WAV-format-3 value semantics and
    dtypes), AIFC 'ulaw'/'alaw' (G.711 code bytes through the same
    expansion tables as WAV formats 7/6 — the q166 container-
    rotation class), and .au encodings 6/7 (big-endian
    float32/float64). Uppercase compression types accepted; short
    SSND data raises; the AIFC unknown-type gate still fires."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _AIFF_FMT_CODE,
        _AU_FMT_CODE,
        _decode_wav_full,
        alaw_expand,
        encode_aiff,
        encode_au,
        ulaw_expand,
    )

    rng = np.random.RandomState(23)
    f = rng.rand(400, 2) * 2 - 1
    for ct, bits, dt in ((b"fl32", 32, np.float32),
                         (b"fl64", 64, np.float64)):
        b = encode_aiff(f, 22050, ctype=ct)
        s, rate, fc, bb = _decode_wav_full(b)
        assert (rate, fc, bb, s.dtype) == (22050, _AIFF_FMT_CODE,
                                           bits, dt)
        assert np.array_equal(s, f.astype(dt))
        up = bytearray(b)
        pos = up.find(ct)
        up[pos : pos + 4] = ct.upper()
        assert np.array_equal(_decode_wav_full(bytes(up))[0],
                              f.astype(dt))
    codes = rng.randint(0, 256, (300, 1)).astype(np.uint8)
    for ct, exp in ((b"ulaw", ulaw_expand), (b"alaw", alaw_expand)):
        s, rate, fc, bb = _decode_wav_full(
            encode_aiff(codes, 8000, ctype=ct)
        )
        assert (fc, bb, s.dtype) == (_AIFF_FMT_CODE, 8, np.int16)
        assert np.array_equal(s[:, 0],
                              exp(codes[:, 0]).astype(np.int16))
    for enc, bits, dt in ((6, 32, np.float32), (7, 64, np.float64)):
        s, rate, fc, bb = _decode_wav_full(
            encode_au(f[:, 0], enc, 16000)
        )
        assert (rate, fc, bb, s.dtype) == (16000, _AU_FMT_CODE,
                                           bits, dt)
        assert np.allclose(s[:, 0], f[:, 0].astype(dt))
    # truncated float SSND raises
    b = bytearray(encode_aiff(f, 22050, ctype=b"fl32"))
    import struct as st
    pos = b.find(b"SSND")
    (size,) = st.unpack_from(">I", b, pos + 4)
    short = b[: pos + 8 + size - 8]
    with pytest.raises(ValueError, match="truncated|shorter"):
        _decode_wav_full(bytes(short))
    # unknown AIFC types still gate
    g = bytearray(encode_aiff(np.arange(40) - 20, 8000, sowt=True))
    g[g.find(b"sowt") : g.find(b"sowt") + 4] = b"MAC3"
    with pytest.raises(NotImplementedError):
        _decode_wav_full(bytes(g))


def test_aifc_ima4_roundtrip_stereo_and_damage():
    """AIFC 'ima4' (Apple QuickTime IMA 4:1, gate retired round 10):
    decode equals an independent per-channel replay of the canonical
    IMA state machine with the & ~0x7F predictor snap at each
    34-byte packet boundary; the encoder's internal predictions ARE
    the decoded samples (it snaps its own state to what the preamble
    can carry); stereo interleaves per-channel packets within each
    64-frame group and matches two mono replays; COMM
    numSampleFrames truncates a partial final packet; damage — SSND
    shorter than the frame count, a preamble step index > 88 —
    raises ValueError."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _IMA_STEP,
        _IMA4_FMT_CODE,
        _decode_wav_full,
        encode_aiff,
        ima_adpcm_step,
    )

    def replay(sig):
        pred, idx = 0, 0
        out = []
        n = len(sig)
        groups = (n + 63) // 64
        pad = list(sig) + [sig[-1]] * (groups * 64 - n)
        for t, s_in in enumerate(pad):
            if t % 64 == 0:
                pred &= ~0x7F
            step = _IMA_STEP[idx]
            diff = int(s_in) - pred
            code = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            pred, idx = ima_adpcm_step(pred, idx, code)
            out.append(pred)
        return np.array(out[:n], np.int16)

    rng = np.random.RandomState(7)
    for trial in range(8):
        nch = 1 + trial % 2
        n = rng.randint(1, 900)  # usually NOT a multiple of 64
        a = np.clip(
            np.cumsum(rng.randint(-700, 700, size=(n, nch)), axis=0),
            -32768, 32767,
        )
        b = encode_aiff(a, 22050, bits=16, ima4=True)
        s, rate, fc, bits = _decode_wav_full(b)
        assert (rate, fc, bits, s.dtype) == (
            22050, _IMA4_FMT_CODE, 16, np.int16
        )
        assert s.shape == (n, nch)
        for c in range(nch):  # stereo == per-channel mono replay
            assert np.array_equal(s[:, c], replay(a[:, c])), (trial, c)
    # SSND shorter than COMM frames
    good = encode_aiff(np.arange(200) * 50 - 5000, 16000, ima4=True)
    b = bytearray(good)
    pos = b.find(b"SSND")
    (size,) = __import__("struct").unpack_from(">I", b, pos + 4)
    short = b[: pos + 8 + size - 34] + b[pos + 8 + size :]
    import struct as st
    short[pos + 4 : pos + 8] = st.pack(">I", size - 34)
    short[4:8] = st.pack(">I", len(short) - 8)
    with pytest.raises(ValueError, match="shorter"):
        _decode_wav_full(bytes(short))
    # preamble step index out of range
    bad = bytearray(good)
    data_at = bad.find(b"SSND") + 16  # SSND id+size+offset+blocksize
    bad[data_at : data_at + 2] = st.pack(">H", 100)  # idx 100 > 88
    with pytest.raises(ValueError, match="step index"):
        _decode_wav_full(bytes(bad))


def test_flac_roundtrip_stereo_modes_and_damage():
    """FLAC (RFC 9639): bit-exact roundtrips across 8/16/24-bit,
    mono/stereo, all four stereo decorrelations and subframe
    strategies (the encoder's frame-mode rotation), wasted bits,
    random/smooth/constant/correlated signals, and partial final
    frames; the audio kernel entry point dispatches on the fLaC
    magic with WAV-consistent sample dtypes; structural damage
    (flipped CRCs, forged headers, truncation) raises ValueError and
    the MD5 net catches what the frame checks miss."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _FLAC_FMT_CODE,
        _decode_wav_full,
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(11)
    for trial in range(30):
        nch = 1 + trial % 2
        n = rng.randint(1, 1500)
        bps = (8, 16, 24)[trial % 3]
        lim = 1 << (bps - 1)
        kind = trial % 5
        if kind == 0:
            a = rng.randint(-lim, lim, size=(n, nch))
        elif kind == 1:  # smooth — fixed predictors win
            t = np.arange(n)
            a = np.stack(
                [(t * 13 + (t * t) // 7) % lim - lim // 2] * nch, -1
            )
        elif kind == 2:
            a = np.full((n, nch), (trial * 977) % lim - lim // 2)
        elif kind == 3:  # wasted bits
            a = rng.randint(-lim >> 3, lim >> 3, size=(n, nch)) << 3
        else:  # correlated stereo — side channels stay small
            base = rng.randint(-lim // 2, lim // 2, size=n)
            a = np.stack([base] * nch, -1)
            if nch == 2:
                a = np.clip(a + rng.randint(-50, 50, size=(n, nch)),
                            -lim, lim - 1)
        enc = encode_flac(a, 44100, bps=bps,
                          blocksize=(192, 256, 300)[trial % 3])
        dec, rate, dbps = decode_flac(enc)
        assert rate == 44100 and dbps == bps
        assert np.array_equal(dec, a.reshape(n, nch)), (trial, kind)
    # kernel dispatch: dtype conventions match the WAV family
    a16 = (np.arange(500) * 7 % 4096 - 2048).astype(np.int64)
    s, r, fc, bits = _decode_wav_full(encode_flac(a16, 16000, bps=16))
    assert (fc, bits, s.dtype) == (_FLAC_FMT_CODE, 16, np.int16)
    assert np.array_equal(s[:, 0], a16)
    a8 = (np.arange(300) % 200 - 100).astype(np.int64)
    s, r, fc, bits = _decode_wav_full(encode_flac(a8, 8000, bps=8))
    assert bits == 8 and s.dtype == np.int16
    assert np.array_equal(s[:, 0], a8 * 256)
    a24 = (np.arange(400) * 977 % (1 << 23) - (1 << 22)).astype(np.int64)
    s, r, fc, bits = _decode_wav_full(encode_flac(a24, 48000, bps=24))
    assert bits == 24 and s.dtype == np.int32
    assert np.array_equal(s[:, 0], a24)
    # Ogg garbage is loud (the gate retired round 10 — real Ogg FLAC
    # now decodes; see test_ogg_flac_encapsulation)
    with pytest.raises(ValueError):
        decode_flac(b"OggS" + b"\x00" * 40)
    enc = bytearray(encode_flac(a16, 16000, bps=16))
    with pytest.raises(ValueError):
        decode_flac(bytes(enc[:-3]))  # truncated final frame CRC
    flipped = bytearray(enc)
    flipped[-1] ^= 0xFF  # frame CRC-16 byte
    with pytest.raises(ValueError):
        decode_flac(bytes(flipped))


def test_round10_review_regressions():
    """Round-10 self-review findings, pinned: (1) a >8-bit JPEG (or
    16-bit PNG) embedded in a uint8 container — old-style/new-style
    JPEG-in-TIFF, BMP BI_JPEG/BI_PNG — raises ValueError instead of
    leaking uint16 through the container contract (WhiteIsZero would
    wrap it mod 256); (2) a crafted SOF2 with implausible dimensions
    raises BEFORE allocating the coefficient grids (the BMP-RLE OOM
    lesson); (3) an Ogg FLAC mapping header declaring 0 = 'unknown'
    header packets decodes by skipping leading metadata packets by
    type, per the xiph mapping."""
    import struct as st
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_jpeg_progressive,
        _ogg_crc,
        _tiff_ifd,
        decode_bmp,
        decode_flac,
        decode_tiff,
        encode_bmp_embedded,
        encode_flac,
        encode_jpeg12,
        encode_png16,
        make_test_pixels16,
    )

    # (1) 12-bit JPEG behind a compression-6 TIFF declaring 8-bit
    j12 = encode_jpeg12(np.zeros((8, 8), np.uint16))
    body = j12 + (b"\x00" if len(j12) % 2 else b"")
    ifd_off = 8 + len(body)
    tags = [(256, 3, [8]), (257, 3, [8]), (258, 3, [8]),
            (259, 3, [6]), (262, 3, [1]), (277, 3, [1]),
            (513, 4, [8]), (514, 4, [len(j12)])]
    tif = (b"II" + st.pack("<HI", 42, ifd_off) + body
           + _tiff_ifd("<", tags, ifd_off))
    with pytest.raises(ValueError, match="8-bit"):
        decode_tiff(tif)
    # 16-bit PNG behind BI_PNG
    px16 = np.asarray(make_test_pixels16(8, 8, seed=2))
    b16 = encode_bmp_embedded(encode_png16(px16), 8, 8, png=True)
    with pytest.raises(ValueError, match="8-bit"):
        decode_bmp(b16)
    # (2) SOF2 allocation guard fires on header fields alone
    sof = st.pack(">BHHB", 8, 65535, 65535, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    stream = (b"\xff\xd8\xff\xc2" + st.pack(">H", 2 + len(sof))
              + sof + b"\xff\xd9")
    with pytest.raises(ValueError, match="implausible"):
        _decode_jpeg_progressive(stream)
    # (3) Ogg FLAC nheaders = 0 (unknown) skips metadata by type
    a = (np.arange(300) * 7 % 4096 - 2048).astype(np.int64)
    ogg = bytearray(encode_flac(a, 16000, bps=16, ogg=True))
    nsegs = ogg[26]
    p0 = 27 + nsegs
    ogg[p0 + 7 : p0 + 9] = st.pack(">H", 0)
    page_end = p0 + sum(ogg[27 : 27 + nsegs])
    ogg[22:26] = b"\x00\x00\x00\x00"
    st.pack_into("<I", ogg, 22, _ogg_crc(bytes(ogg[:page_end])))
    dec, rate, bits = decode_flac(bytes(ogg))
    assert np.array_equal(dec[:, 0], a) and (rate, bits) == (16000, 16)


def test_jpeg_progressive_subsampled_parity():
    """Subsampled progressive JPEG (gate retired round 10):
    progressive re-coding is a LOSSLESS re-coding of the same
    quantized coefficients, so decode(progressive(x, ss)) must equal
    decode(baseline(x, ss)) bit-for-bit for every sampling layout
    (420/422/440/411), any dims (partial MCUs), and any restart
    interval — interleaved-MCU DC scans, per-component AC block
    rasters, per-scan RST sequence checks. Block-constant gray-in-
    RGB tiles stay bit-exact at 4:2:0 (neutral chroma survives the
    box mean), which is what q198's fold leans on."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        jpeg_marker_summary,
    )

    rng = np.random.RandomState(31)
    for trial in range(16):
        h, w = rng.randint(8, 48), rng.randint(8, 48)
        a = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        ss = ("420", "422", "440", "411")[trial % 4]
        ri = (1 + trial % 4) if trial % 3 else 0
        bp = encode_jpeg_progressive(a, quality=85,
                                     restart_interval=ri,
                                     subsampling=ss)
        bb = encode_jpeg(a, quality=85, subsampling=ss)
        assert jpeg_marker_summary(bp)[0] is True
        assert np.array_equal(decode_jpeg(bp), decode_jpeg(bb)), (
            trial, ss, ri,
        )
    # block-constant 4:2:0 bit-exactness (the q198 fold's argument)
    tiles = rng.randint(0, 256, (3, 4)).astype(np.uint8)
    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
    rgb = np.stack([img] * 3, -1)
    for ri in (0, 3):
        b = encode_jpeg_progressive(rgb, quality=90,
                                    restart_interval=ri,
                                    subsampling="420")
        assert np.array_equal(decode_jpeg(b), rgb), ri


def test_jpeg12_extended_sequential_gray():
    """12-bit extended-sequential JPEG (SOF1 gray — gate retired
    round 10, the DICOM/DNG precision class): block-constant tiles
    decode BIT-EXACT as uint16 under the same DC-step argument as
    the 8-bit corpora (the unscaled quantization table keeps the DC
    step < 8 in the 12-bit domain); optimal DC tables carry
    categories past Annex K's 0-11 range; restart intervals
    realign; arbitrary 12-bit data decodes lossy but close and
    never errs; 4:4:4 12-bit COLOR (follow-up retirement) is
    bit-exact on neutral-chroma corpora; forged non-12 precisions
    stay honestly gated."""
    import struct as st
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg12,
        jpeg_marker_summary,
    )

    rng = np.random.RandomState(29)
    for trial in range(10):
        bh, bw = rng.randint(1, 5), rng.randint(1, 5)
        t = rng.randint(0, 4096, (bh, bw)).astype(np.uint16)
        img = np.repeat(np.repeat(t, 8, 0), 8, 1)
        ri = (trial % 4) if trial % 2 else 0
        b = encode_jpeg12(img, quality=85 + (trial % 3) * 5,
                          restart_interval=ri)
        d = decode_jpeg(b)
        assert d.dtype == np.uint16 and d.shape == img.shape + (3,)
        assert np.array_equal(d[..., 0], img), trial
        assert np.array_equal(d[..., 0], d[..., 2])
        if ri:
            mcus = bh * bw
            assert jpeg_marker_summary(b)[2] == -(-mcus // ri) - 1
    # arbitrary content: lossy but bounded, no exceptions
    a = rng.randint(0, 4096, (19, 22)).astype(np.uint16)
    d = decode_jpeg(encode_jpeg12(a, quality=95))
    assert int(np.abs(d[..., 0].astype(int) - a.astype(int)).max()) < 64
    # 12-bit 4:4:4 color (follow-up retirement): block-constant
    # gray-in-RGB is bit-exact through the 2048-centered YCbCr
    t = rng.randint(0, 4096, (2, 3)).astype(np.uint16)
    img = np.repeat(np.repeat(t, 8, 0), 8, 1)
    rgb = np.stack([img] * 3, -1)
    d = decode_jpeg(encode_jpeg12(rgb, quality=90, restart_interval=2))
    assert d.dtype == np.uint16 and np.array_equal(d, rgb)
    # random 12-bit color stays bounded lossy, no exceptions
    a3 = rng.randint(0, 4096, (11, 14, 3)).astype(np.uint16)
    d3 = decode_jpeg(encode_jpeg12(a3, quality=95))
    assert int(np.abs(d3.astype(int) - a3.astype(int)).max()) < 256
    # 16-bit DCT precision stays honestly gated: forge prec=16
    b = bytearray(encode_jpeg12(np.full((8, 8), 100, np.uint16)))
    pos = bytes(b).find(b"\xff\xc1")
    assert b[pos + 4] == 12  # precision byte
    b[pos + 4] = 16
    with pytest.raises((NotImplementedError, ValueError)):
        decode_jpeg(bytes(b))


def test_jpeg_encoders_reject_bad_samples_with_value_error():
    """Every DCT encoder reads its input through one front end that
    raises ValueError (never an ``assert``, which ``python -O`` strips)
    for a sample outside [0, 2^P - 1] or a channel count its layout
    does not take; the 8-bit encoders no longer wrap out-of-range
    samples through a uint8 cast."""
    from e_commerce_data_pipeline_spark.operators import multimodal as m

    g12 = np.full((8, 8), 4095, np.uint16)
    with pytest.raises(ValueError, match="12-bit"):
        m.encode_jpeg12(g12 + 1)
    over = np.full((8, 8), 256, np.int64)
    under = np.full((8, 8, 3), -1, np.int64)
    for enc in (m.encode_jpeg, m.encode_jpeg_progressive,
                m.encode_jpeg_arith, m.encode_jpeg_arith_progressive,
                m.encode_jpeg_hierarchical):
        for bad in (over, under):
            with pytest.raises(ValueError, match="8-bit"):
                enc(bad)
        with pytest.raises(ValueError, match="shape"):
            enc(np.zeros((8, 8, 2), np.uint8))
    for enc in (m.encode_jpeg12, m.encode_jpeg_arith12):
        with pytest.raises(ValueError, match="shape"):
            enc(np.zeros((8, 8, 4), np.uint16))
    with pytest.raises(ValueError, match="shape"):
        m.encode_jpeg(np.zeros((8, 8, 4), np.uint8))
    with pytest.raises(ValueError, match="shape"):
        m.encode_jpeg(np.zeros((8, 8, 3), np.uint8), adobe_transform=2)
    # the limits themselves encode
    m.encode_jpeg12(g12)
    m.encode_jpeg(np.full((8, 8), 255, np.int64))


def test_jpeg_lossless_roundtrip_and_old_style_tiff():
    """Lossless JPEG (T.81 process 14, SOF3 — gate retired round
    10): bit-exact round-trips across all seven predictors,
    precisions 8/12/16 (uint16 out above 8), gray/RGB, point
    transforms (decoded samples are (v >> Pt) << Pt), and
    row-aligned restart intervals with sequence checks; decode_jpeg
    dispatches on the SOF3 marker; non-row-aligned DRI, bad
    predictor selectors, and missing tables raise ValueError;
    subsampled/2-component lossless frames gate. Old-style
    JPEG-in-TIFF (compression 6): the JPEGInterchangeFormat layout
    decodes through the same block-constant-exact path as
    compression 7; a compression-6 file WITHOUT tag 513 gates
    honestly."""
    import struct as st
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_tiff,
        encode_jpeg_lossless,
        encode_tiff_jpeg,
        jpeg_marker_summary,
    )

    rng = np.random.RandomState(19)
    for trial in range(28):
        h, w = rng.randint(1, 26), rng.randint(1, 26)
        nc = 1 if trial % 2 else 3
        p = (8, 12, 16)[trial % 3]
        pt = (0, 0, 1)[trial % 3]
        shape = (h, w) if nc == 1 else (h, w, 3)
        dt = np.uint8 if p <= 8 else np.uint16
        a = rng.randint(0, 1 << p, shape).astype(dt)
        rr = 3 if (trial % 4 == 1 and h > 3) else 0
        b = encode_jpeg_lossless(
            a, predictor=1 + trial % 7, point_transform=pt,
            restart_rows=rr, precision=p,
        )
        assert jpeg_marker_summary(b)[3] == 0xC3
        got = decode_jpeg(b)
        want = (a.reshape(h, w, nc).astype(np.int64) >> pt) << pt
        if nc == 1:
            want = np.repeat(want, 3, axis=2)
        assert got.dtype == dt and np.array_equal(
            got.astype(np.int64), want
        ), trial
        if rr:
            assert jpeg_marker_summary(b)[2] == (h - 1) // 3
    # damage: forged non-row-aligned DRI
    a8 = rng.randint(0, 256, (8, 10)).astype(np.uint8)
    b = bytearray(encode_jpeg_lossless(a8, restart_rows=4))
    pos = bytes(b).find(b"\xff\xdd")
    st.pack_into(">H", b, pos + 4, 7)  # 7 MCUs != k*w
    with pytest.raises(ValueError, match="row-aligned"):
        decode_jpeg(bytes(b))
    # forged predictor selector
    b = bytearray(encode_jpeg_lossless(a8, predictor=3))
    pos = bytes(b).find(b"\xff\xda")
    (ln,) = st.unpack_from(">H", b, pos + 2)
    b[pos + 2 + ln - 3] = 0  # Ss byte
    with pytest.raises(ValueError, match="predictor"):
        decode_jpeg(bytes(b))
    # subsampled lossless gates
    b = bytearray(encode_jpeg_lossless(
        np.stack([a8] * 3, -1), predictor=1
    ))
    pos = bytes(b).find(b"\xff\xc3")
    b[pos + 2 + 9] = 0x21  # first component sampling 2x1
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(b))
    # old-style JPEG-in-TIFF: bit-exact on the block-constant corpus
    tiles = rng.randint(0, 256, (3, 4)).astype(np.uint8)
    img = np.repeat(np.repeat(tiles, 8, 0), 8, 1)
    for gray in (True, False):
        src = img if gray else np.stack([img] * 3, -1)
        t = encode_tiff_jpeg(src, quality=90, old_style=True)
        assert np.array_equal(decode_tiff(t), np.stack([img] * 3, -1))
    # compression 6 without tag 513 stays honestly gated
    t = bytearray(encode_tiff_jpeg(img, quality=90, old_style=True))
    e = "<"
    ifd = int.from_bytes(t[4:8], "little")
    n = int.from_bytes(t[ifd : ifd + 2], "little")
    kept = bytearray()
    removed = 0
    for k in range(n):
        at = ifd + 2 + 12 * k
        tag = int.from_bytes(t[at : at + 2], "little")
        if tag in (513, 514):
            removed += 1
            continue
        kept += t[at : at + 12]
    t2 = t[: ifd] + st.pack("<H", n - removed) + bytes(kept) + \
        t[ifd + 2 + 12 * n :]
    with pytest.raises(NotImplementedError, match="old-style"):
        decode_tiff(bytes(t2))


def test_ogg_flac_encapsulation():
    """Ogg-encapsulated FLAC (gate retired round 10): bit-exact
    roundtrips across widths/channels through the RFC 3533 page
    layer — BOS/EOS flags, per-page forward CRC-32 (0x04C11DB7, NOT
    zlib's reflected CRC), segment-table reassembly including
    255-lacing packet spans across pages (the writer's small pages
    force them on ordinary corpora), the xiph mapping header, and
    header-packet skipping. Damage — torn page, flipped CRC, bumped
    stream-structure version, inconsistent continued-packet flag —
    raises ValueError; a mapping major-version bump and multiplexed
    serials gate via require_codec."""
    import struct as st
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_wav_full,
        _FLAC_FMT_CODE,
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(17)
    for trial in range(8):
        nch = 1 + trial % 2
        n = rng.randint(1, 2500)
        bps = (8, 16, 24, 12)[trial % 4]
        lim = 1 << (bps - 1)
        a = rng.randint(-lim, lim, size=(n, nch))
        enc = encode_flac(a, 44100, bps=bps, blocksize=256, ogg=True)
        assert enc[:4] == b"OggS"
        dec, rate, dbps = decode_flac(enc)
        assert rate == 44100 and dbps == bps
        assert np.array_equal(dec, a), trial
    # kernel dispatch: OggS magic reaches the FLAC path
    a16 = (np.arange(700) * 13 % 4096 - 2048).astype(np.int64)
    ogg = encode_flac(a16, 16000, bps=16, ogg=True)
    s, r, fc, bits = _decode_wav_full(ogg)
    assert (fc, bits) == (_FLAC_FMT_CODE, 16)
    assert np.array_equal(s[:, 0], a16)
    # a 4096-sample frame exceeds one small page -> spans exercised
    big = encode_flac(rng.randint(-32768, 32768, size=9000), 48000,
                      bps=16, blocksize=4096, ogg=True)
    assert decode_flac(big)[0].shape[0] == 9000
    # damage is loud and typed
    b = bytearray(ogg)
    with pytest.raises(ValueError, match="truncated"):
        decode_flac(bytes(b[:-10]))
    crc = bytearray(ogg)
    crc[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(crc))
    ver = bytearray(ogg)
    ver[4] ^= 1
    with pytest.raises(ValueError, match="version"):
        decode_flac(bytes(ver))
    # mapping major-version bump is an honest variant gate: rebuild
    # the BOS page with major=2 and a fixed CRC
    bump = bytearray(ogg)
    nsegs = bump[26]
    page_end = 27 + nsegs + sum(bump[27 : 27 + nsegs])
    bump[27 + nsegs + 5] = 2  # mapping major version byte
    bump[22:26] = b"\x00\x00\x00\x00"
    from e_commerce_data_pipeline_spark.operators.multimodal import _ogg_crc
    st.pack_into("<I", bump, 22, _ogg_crc(bytes(bump[:page_end])))
    with pytest.raises(NotImplementedError):
        decode_flac(bytes(bump))


def test_tiff_organization_gate_retirements():
    """Round-9 organization gates, retired: tiled+planar
    (per-component tile grids, component-major, predictor per tile)
    round-trips at 8/16-bit across all codecs; 16-bit-index palettes
    resolve through the full 65536-entry ColorMap (high byte of each
    entry); sub-byte CMYK separations (depth 1/2/4, pixel-interleaved
    MSB-first packing) convert at full=2^d-1 and expand exactly.
    Sub-byte RGB (legal, rare) expands too."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff,
        make_test_pixels,
        make_test_pixels16,
    )

    px = np.asarray(make_test_pixels(23, 17, seed=4))
    px16 = np.asarray(make_test_pixels16(14, 10, seed=2))
    for arr in (px, px16):
        for comp in ("none", "packbits", "lzw", "deflate"):
            b = encode_tiff(arr, compression=comp, tile=(16, 16),
                            planar=True, predictor=(comp != "none"),
                            big_endian=(comp == "lzw"))
            d = decode_tiff(b)
            assert d.dtype == arr.dtype and np.array_equal(d, arr), comp
    rng = np.random.RandomState(2)
    idx16 = rng.randint(0, 65536, (9, 13)).astype(np.uint16)
    j = np.arange(65536, dtype=np.int64)
    pal = np.stack(
        [(j * 3 + 11) % 65536 >> 8, (j * 5 + 17) % 65536 >> 8,
         (j * 7 + 91) % 65536 >> 8], -1
    ).astype(np.uint8)
    for comp in ("none", "deflate"):
        d = decode_tiff(encode_tiff(idx16, compression=comp, palette=pal,
                                    big_endian=(comp == "none")))
        assert np.array_equal(
            d, pal[idx16.reshape(-1).astype(np.int64)].reshape(9, 13, 3)
        ), comp
    yy, xx = np.mgrid[0:9, 0:13]
    for depth in (1, 2, 4):
        full = (1 << depth) - 1
        c = (xx * 3 + yy * 5 + 7) % (full + 1)
        k = (xx + yy + 3) % (full + 1)
        cmyk = np.stack(
            [c, (c + 1) % (full + 1), (c + 2) % (full + 1), k], -1
        ).astype(np.uint8)
        exp = np.stack(
            [((full - cmyk[..., j2].astype(np.int64)) * (full - k))
             // full * (255 // full) for j2 in range(3)], -1
        ).astype(np.uint8)
        for comp in ("none", "lzw", "packbits"):
            d = decode_tiff(encode_tiff(cmyk, compression=comp,
                                        depth=depth, rows_per_strip=4))
            assert np.array_equal(d, exp), (depth, comp)


def test_tiff_multipage_chain_roundtrip_and_guards():
    """Multi-page TIFF (chained IFDs): per-page dims and gray/RGB
    mixes round-trip through all four codecs and byte orders;
    decode_tiff alone reads page 1 (the single-image convention);
    chain loops and implausible page counts raise ValueError."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        decode_tiff_pages,
        encode_tiff_multipage,
    )

    rng = np.random.RandomState(6)
    for trial in range(8):
        pages = []
        for k in range(1 + trial % 4):
            h, w = rng.randint(1, 18), rng.randint(1, 22)
            pages.append(
                rng.randint(0, 256, (h, w) if (trial + k) % 3 == 0
                            else (h, w, 3)).astype(np.uint8)
            )
        b = encode_tiff_multipage(
            pages,
            compression=("none", "packbits", "lzw", "deflate")[trial % 4],
            big_endian=bool(trial % 2),
            rows_per_strip=4 if trial % 3 else 0,
        )
        dec = decode_tiff_pages(b)
        assert len(dec) == len(pages)
        for got, src in zip(dec, pages):
            want = np.stack([src] * 3, -1) if src.ndim == 2 else src
            assert np.array_equal(got, want), trial
        first = pages[0] if pages[0].ndim == 3 else np.stack(
            [pages[0]] * 3, -1)
        assert np.array_equal(decode_tiff(b), first)
    # a looping chain must raise, not spin: point page 2's next
    # pointer back at page 1's IFD
    pages = [rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)] * 2
    b = bytearray(encode_tiff_multipage(pages))
    ifd1 = int.from_bytes(b[4:8], "little")
    n1 = int.from_bytes(b[ifd1 : ifd1 + 2], "little")
    ifd2 = int.from_bytes(
        b[ifd1 + 2 + 12 * n1 : ifd1 + 2 + 12 * n1 + 4], "little"
    )
    n2 = int.from_bytes(b[ifd2 : ifd2 + 2], "little")
    b[ifd2 + 2 + 12 * n2 : ifd2 + 2 + 12 * n2 + 4] = st.pack("<I", ifd1)
    with pytest.raises(ValueError, match="loops|implausible"):
        decode_tiff_pages(bytes(b))


def test_tiff_jpeg_compression7_parity_tables_and_gates():
    """JPEG-in-TIFF (compression 7): strip decode equals standalone
    decode_jpeg of each strip (arbitrary images, gray and color,
    with and without the shared JPEGTables tag), block-constant
    corpora are bit-exact, and the gates fire (old-style compression
    6, RGB-space photometric 2)."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_tiff,
        encode_jpeg,
        encode_tiff_jpeg,
    )

    rng = np.random.RandomState(4)
    img = rng.randint(0, 256, (24, 32, 3)).astype(np.uint8)
    for src in (img, img[..., 0]):
        for jt in (False, True):
            b = encode_tiff_jpeg(src, quality=75, rows_per_strip=8,
                                 jpeg_tables=jt, big_endian=jt)
            want = np.concatenate(
                [decode_jpeg(encode_jpeg(src[y0 : y0 + 8], quality=75))
                 for y0 in (0, 8, 16)], axis=0)
            assert np.array_equal(decode_tiff(b), want), (src.ndim, jt)
    # block-constant corpus: bit-exact through the strips
    tiles = np.array([[10, 200, 7], [90, 30, 255]], np.uint8)
    plane = np.kron(tiles, np.ones((8, 8), np.uint8))
    b = encode_tiff_jpeg(np.stack([plane] * 3, -1), quality=90,
                         rows_per_strip=8, jpeg_tables=True)
    assert np.array_equal(decode_tiff(b), np.stack([plane] * 3, -1))
    # gate: forged compression 6 without JPEGInterchangeFormat still
    # gates (the never-completed per-strip old-style variants)
    def forge(tag, val):
        bb = bytearray(b)
        ifd = int.from_bytes(bb[4:8], "little")
        n = int.from_bytes(bb[ifd : ifd + 2], "little")
        for k in range(n):
            at = ifd + 2 + 12 * k
            if int.from_bytes(bb[at : at + 2], "little") == tag:
                bb[at + 8 : at + 10] = st.pack("<H", val)
        return bytes(bb)

    with pytest.raises(NotImplementedError):
        decode_tiff(forge(259, 6))
    # photometric 2 DECODES since round 11 (RGB-space override): the
    # YCbCr-encoded planes reinterpret as R/G/B — structurally valid,
    # containerwise wrong colors, exactly like any photometric lie
    out2 = decode_tiff(forge(262, 2))
    assert out2.shape == plane.shape + (3,) and out2.dtype == np.uint8
    # the reinterpretation must NOT equal the YCbCr decode (the
    # override is real, not a no-op)
    assert not np.array_equal(out2, decode_tiff(b))


def test_tiff_ycbcr_conversion_subsampling_and_gates():
    """YCbCr TIFF (photometric 6): data-unit layout round-trips at
    every supported subsampling over non-unit-multiple dims and all
    four codecs/byte orders/strip splits, the conversion matches
    decode_jpeg's float math exactly (gray Y with neutral chroma
    decodes to Y replicated — the JPEG-parity closed form), and the
    gates fire: headroom ReferenceBlackWhite and forged subsampling
    codes."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_ycbcr,
    )

    rng = np.random.RandomState(7)
    for trial in range(12):
        sh, sv = [(1, 1), (2, 2), (2, 1), (4, 2)][trial % 4]
        h, w = rng.randint(1, 25), rng.randint(1, 25)
        yp = rng.randint(0, 256, (h, w)).astype(np.uint8)
        td, ta = -(-h // sv), -(-w // sh)
        cb = rng.randint(0, 256, (td, ta)).astype(np.uint8)
        cr = rng.randint(0, 256, (td, ta)).astype(np.uint8)
        comp = ("none", "packbits", "lzw", "deflate")[trial % 4]
        b = encode_tiff_ycbcr(
            yp, cb, cr, (sh, sv), compression=comp,
            big_endian=bool(trial % 2),
            rows_per_strip=0 if trial % 3 == 0 else 2 * sv,
        )
        out = decode_tiff(b)
        cbf = np.repeat(np.repeat(cb, sv, 0), sh, 1)[:h, :w].astype(
            np.float64) - 128.0
        crf = np.repeat(np.repeat(cr, sv, 0), sh, 1)[:h, :w].astype(
            np.float64) - 128.0
        yf = yp.astype(np.float64)
        want = np.stack(
            [np.clip(np.floor(x + 0.5), 0, 255)
             for x in (yf + 1.402 * crf,
                       yf - 0.344136286 * cbf - 0.714136286 * crf,
                       yf + 1.772 * cbf)], -1).astype(np.uint8)
        assert np.array_equal(out, want), (trial, sh, sv, comp)
    # neutral chroma: Y replicates to all three channels exactly
    yp = rng.randint(0, 256, (8, 10)).astype(np.uint8)
    neutral = np.full((4, 5), 128, np.uint8)
    out = decode_tiff(encode_tiff_ycbcr(yp, neutral, neutral, (2, 2)))
    assert np.array_equal(out, np.stack([yp] * 3, -1))
    # forged subsampling value 3 is structural damage
    b = bytearray(encode_tiff_ycbcr(yp, neutral, neutral, (2, 2)))
    ifd = int.from_bytes(b[4:8], "little")
    n = int.from_bytes(b[ifd : ifd + 2], "little")
    for k in range(n):
        at = ifd + 2 + 12 * k
        if int.from_bytes(b[at : at + 2], "little") == 530:
            b[at + 8 : at + 10] = st.pack("<H", 3)
    with pytest.raises(ValueError, match="YCbCrSubSampling"):
        decode_tiff(bytes(b))


def test_jpeg_hierarchical_exactness_and_tolerance():
    """Hierarchical JPEG (Annex J): EXP-less quality pyramids are
    BIT-EXACT on block-constant rasters even from a deliberately
    coarse base (the residual is an integer constant per block, so
    unit-step differential quantization reconstructs it exactly) —
    and the base alone really is lossy, proving nonzero corrections
    flowed. EXP pyramids are exact on constant rasters and within
    one code value elsewhere (boundary interpolation residuals ride
    a lossy unit-step DCT). The expansion filter matches an
    independent per-pixel reference."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _jpg_expand_ref,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_hierarchical,
    )

    tiles = (np.arange(6).reshape(2, 3) * 47 + 11) % 256
    img = np.kron(tiles, np.ones((16, 16), np.int64)).astype(np.uint8)
    g3 = np.stack([img] * 3, -1)
    # coarse base alone is lossy...
    assert not np.array_equal(
        decode_jpeg(encode_jpeg(img, quality=25)),
        np.stack([img] * 3, -1),
    )
    # ...but the EXP-less hierarchy lands exactly, gray and color,
    # 2 and 3 frames, with and without restarts
    for kw in (dict(levels=2), dict(levels=3, restart_interval=2),
               dict(levels=2, restart_interval=1)):
        b = encode_jpeg_hierarchical(
            img, quality=25, expansion=False, **kw)
        assert np.array_equal(decode_jpeg(b), g3), kw
        b = encode_jpeg_hierarchical(
            g3, quality=35, expansion=False, **kw)
        assert np.array_equal(decode_jpeg(b), g3), kw
    # EXP pyramid over a constant raster: exact through 3 levels
    const = np.full((40, 56), 177, np.uint8)
    b = encode_jpeg_hierarchical(const, quality=30, levels=3,
                                 restart_interval=2)
    assert np.array_equal(decode_jpeg(b), np.stack([const] * 3, -1))
    # EXP pyramid over structured rasters: within one code value
    # (odd dims exercise the expansion crop)
    y, x = np.mgrid[0:37, 0:45]
    sm = ((x * 3 + y * 2) // 4 % 256).astype(np.uint8)
    out = decode_jpeg(
        encode_jpeg_hierarchical(sm, quality=95, levels=2)
    )[..., 0].astype(np.int64)
    assert out.shape == sm.shape
    assert np.abs(out - sm.astype(np.int64)).max() <= 1
    b2 = encode_jpeg_hierarchical(g3, quality=90, levels=2)
    assert np.abs(
        decode_jpeg(b2).astype(np.int64) - g3.astype(np.int64)
    ).max() <= 1
    # expansion filter vs an independent per-pixel reference
    rng = np.random.RandomState(4)
    for _ in range(6):
        ph, pw = rng.randint(1, 9), rng.randint(1, 9)
        ref = rng.randint(0, 256, (ph, pw)).astype(np.int64)
        for eh, ev in ((1, 0), (0, 1), (1, 1)):
            th = min(ph * (2 if ev else 1), ph * 2)
            tw = min(pw * (2 if eh else 1), pw * 2)
            got = _jpg_expand_ref(ref, eh, ev, th, tw)
            want = ref
            if eh:
                w2 = np.empty((want.shape[0], want.shape[1] * 2),
                              np.int64)
                for j in range(want.shape[1]):
                    w2[:, 2 * j] = want[:, j]
                    nb = want[:, min(j + 1, want.shape[1] - 1)]
                    w2[:, 2 * j + 1] = (want[:, j] + nb + 1) // 2
                want = w2
            if ev:
                w2 = np.empty((want.shape[0] * 2, want.shape[1]),
                              np.int64)
                for j in range(want.shape[0]):
                    w2[2 * j] = want[j]
                    nb = want[min(j + 1, want.shape[0] - 1)]
                    w2[2 * j + 1] = (want[j] + nb + 1) // 2
                want = w2
            assert np.array_equal(got, want[:th, :tw])


def test_jpeg_hierarchical_structure_gates_and_damage():
    """The hierarchical walk is loud: differential frame without a
    reference, EXP before a non-differential frame, invalid EXP
    flags, multiple DHP, a pyramid that never reaches the DHP dims,
    and the honest gates (non-8-bit, subsampled components,
    differential progressive/lossless, arithmetic hierarchies).
    Census dispatch: the summary's DHP flag + frames*1000 aux
    composition.
    Plus a full bit-flip sweep over an EXP-less refinement file."""
    import pytest
    import struct as stt

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_hierarchical,
        jpeg_marker_summary,
    )

    tiles = (np.arange(4).reshape(2, 2) * 63 + 9) % 256
    img = np.kron(tiles, np.ones((16, 16), np.int64)).astype(np.uint8)
    b = encode_jpeg_hierarchical(img, quality=30, levels=2,
                                 expansion=False)
    assert jpeg_marker_summary(b)[4] and not jpeg_marker_summary(
        encode_jpeg(img, quality=90)
    )[4]
    assert jpeg_marker_summary(b) == (False, 2, 0, 0xC0, True)

    def find_marker(buf, mk, nth=0):
        at = -1
        for _ in range(nth + 1):
            at = buf.index(bytes([0xFF, mk]), at + 1)
        return at

    # first frame forged differential -> no reference
    bb = bytearray(b)
    bb[find_marker(bb, 0xC0) + 1] = 0xC5
    with pytest.raises(ValueError, match="reference"):
        decode_jpeg(bytes(bb))
    # second frame forged non-differential with a pending EXP is
    # covered on the EXP file below; here: duplicate DHP
    bb = bytearray(b)
    at = find_marker(bb, 0xDE)
    (ln,) = stt.unpack_from(">H", bb, at + 2)
    dup = bytes(bb[at : at + 2 + ln])
    with pytest.raises(ValueError, match="DHP"):
        decode_jpeg(bytes(bb[: at]) + dup + dup + bytes(bb[at + 2 + ln :]))
    # truncation after the FIRST frame: pyramid never reaches DHP dims
    be = encode_jpeg_hierarchical(
        np.full((32, 32), 99, np.uint8), quality=30, levels=2)
    second = find_marker(be, 0xDF)
    with pytest.raises(ValueError, match="DHP dims"):
        decode_jpeg(be[:second] + b"\xff\xd9")
    # EXP flags invalid / EXP before a non-differential frame
    bb = bytearray(be)
    at = find_marker(bb, 0xDF)
    bb[at + 4] = 0x22
    with pytest.raises(ValueError, match="EXP"):
        decode_jpeg(bytes(bb))
    bb = bytearray(be)
    bb[find_marker(bb, 0xC5) + 1] = 0xC0
    with pytest.raises(ValueError, match="EXP"):
        decode_jpeg(bytes(bb))
    # gates: precision, subsampling, frame kinds
    bb = bytearray(b)
    bb[find_marker(bb, 0xDE) + 4] = 12
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bb))
    bb = bytearray(b)
    bb[find_marker(bb, 0xDE) + 11] = 0x22  # DHP sampling factor
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bb))
    for forged in (0xC6, 0xC7):
        bb = bytearray(b)
        bb[find_marker(bb, 0xC5) + 1] = forged
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(bb))
    # SOF13 decodes since round 13 (arithmetic differential — see
    # test_jpeg_arith_hierarchical_round13); a HUFFMAN stream
    # misdeclared as SOF13 is garbage data the QM walk may absorb
    # (the zero-feed convention) — the contract is only that no
    # foreign exception class escapes
    bb = bytearray(b)
    bb[find_marker(bb, 0xC5) + 1] = 0xCD
    try:
        decode_jpeg(bytes(bb))
    except (ValueError, NotImplementedError):
        pass
    # arithmetic progressive/lossless differential frames still gate
    bb = bytearray(b)
    bb[find_marker(bb, 0xC5) + 1] = 0xCE
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bb))
    # bit-flip sweep (restarted color refinement file)
    bf = encode_jpeg_hierarchical(
        np.stack([img] * 3, -1), quality=30, levels=2,
        expansion=False, restart_interval=2,
    )
    for bit in range(len(bf) * 8):
        bb = bytearray(bf)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith_entropy_layer_identity():
    """The QM-coder pair (T.81 Annex D) is pinned at the ENTROPY
    layer: decode(encode(bits)) == bits for adversarial bit/context
    streams — long MPS runs driving states to the table floor,
    alternating and biased streams exercising LPS exchanges, carry
    propagation over stacked 0xFF bytes, and multi-context
    interleaving. Plus Table D.3 structural invariants: transition
    indices in range, MPS transitions never increase Qe, LPS
    transitions of non-switch rows never decrease it, switch only on
    near-equiprobable rows, and the fixed bin is self-absorbing."""
    import random

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _JPEG_ARITAB,
        _QmDecoder,
        _QmEncoder,
    )

    assert len(_JPEG_ARITAB) == 114
    for i, (qe, nlps, nmps, sw) in enumerate(_JPEG_ARITAB):
        assert 0 < qe < 0x8000 and 0 <= nlps <= 113 and 0 <= nmps <= 113
        if i < 113:
            assert _JPEG_ARITAB[nmps][0] <= qe, i
            if not sw:
                assert _JPEG_ARITAB[nlps][0] >= qe, i
            else:
                assert qe > 0x5000, i  # switch only near p=0.5
        else:
            assert (qe, nlps, nmps, sw) == (0x5A1D, 113, 113, 0)

    rng = random.Random(12)
    streams = [
        [0] * 400,                                   # MPS floor run
        [1] * 400,
        [0, 1] * 200,                                # alternation
        [rng.random() < 0.03 for _ in range(600)],   # heavy bias
        [rng.random() < 0.5 for _ in range(600)],    # fair coin
    ]
    for trial in range(30):
        n_ctx = rng.choice([1, 3, 8])
        bits = [int(x) for x in rng.choice(streams)] if trial < 10 else [
            int(rng.random() < rng.choice([0.02, 0.2, 0.5, 0.9]))
            for _ in range(rng.randrange(1, 800))
        ]
        ctxs = [rng.randrange(n_ctx) for _ in bits]
        enc = _QmEncoder()
        st_e = bytearray(n_ctx)
        for bit, cx in zip(bits, ctxs):
            enc.encode(st_e, cx, bit)
        buf = enc.flush()
        dec = _QmDecoder(buf)
        st_d = bytearray(n_ctx)
        got = [dec.decode(st_d, cx) for cx in ctxs]
        assert got == bits, trial


def test_jpeg_arith_roundtrip_and_parity():
    """SOF9 arithmetic sequential: block-constant corpora decode
    bit-exact (the DC-only argument is entropy-layer independent),
    and on random natural images the decoded pixels EQUAL the
    Huffman pipeline's (identical quantized coefficients through a
    completely different entropy layer) across subsampling, restart,
    and conditioning configurations — while compressing tighter.
    Gates and damage stay loud."""
    import pytest
    import struct as stt

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_arith,
    )

    tiles = (np.arange(12).reshape(3, 4) * 21 + 5) % 256
    img = np.kron(tiles, np.ones((8, 8), np.int64)).astype(np.uint8)
    g3 = np.stack([img] * 3, -1)
    # block-constant bit-exactness, gray + color + restarts + no-DAC
    assert np.array_equal(
        decode_jpeg(encode_jpeg_arith(img, quality=90)),
        g3,
    )
    for kw in (dict(), dict(restart_interval=2),
               dict(subsampling="420", restart_interval=1),
               dict(emit_dac=False),
               dict(dc_cond=(1, 3), ac_kx=20)):
        assert np.array_equal(
            decode_jpeg(encode_jpeg_arith(g3, quality=90, **kw)), g3
        ), kw
    # tighter than Huffman on the DC-only corpus
    assert len(encode_jpeg_arith(img, quality=90)) < len(
        encode_jpeg(img, quality=90)
    )
    # natural-image parity vs the Huffman pipeline
    rng = np.random.RandomState(7)
    for trial, kw in enumerate((
        dict(subsampling="444"),
        dict(subsampling="420", restart_interval=3),
        dict(subsampling="422", restart_interval=1),
        dict(subsampling="411"),
        dict(subsampling="440", restart_interval=2),
    )):
        h, w = rng.randint(9, 40), rng.randint(9, 40)
        nat = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        q = int(rng.choice([75, 85, 95]))
        ba = encode_jpeg_arith(nat, quality=q, **kw)
        bh = encode_jpeg(nat, quality=q, **kw)
        assert np.array_equal(decode_jpeg(ba), decode_jpeg(bh)), \
            (trial, kw)
        # custom conditioning changes bytes, never pixels
        bc = encode_jpeg_arith(nat, quality=q, dc_cond=(1, 2),
                               ac_kx=17, **kw)
        assert np.array_equal(decode_jpeg(bc), decode_jpeg(bh)), \
            (trial, kw)
    # gray natural parity
    natg = rng.randint(0, 256, (21, 30)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_arith(natg, quality=85)),
        decode_jpeg(encode_jpeg(natg, quality=85)),
    )
    # non-8/12 precisions / progressive-scan-in-SOF9 keep their
    # gates (12-bit arithmetic decodes since round 13 — see
    # test_jpeg_arith12_round13)
    b = bytearray(encode_jpeg_arith(img, quality=90))
    at = b.index(b"\xff\xc9") + 4
    b[at] = 10  # forge precision
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(b))
    b = bytearray(encode_jpeg_arith(img, quality=90))
    at = b.index(b"\xff\xda")
    (ln,) = stt.unpack_from(">H", b, at + 2)
    b[at + 2 + ln - 2] = 1  # forge Ss -> progressive band
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(b))
    # restart desync is loud
    b = bytearray(encode_jpeg_arith(g3, quality=90, restart_interval=1))
    rst = b.index(b"\xff\xd0")
    b[rst + 1] = 0xD3
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(b))
    # encoder argument validation
    with pytest.raises(ValueError, match="conditioning"):
        encode_jpeg_arith(img, dc_cond=(3, 1))
    with pytest.raises(ValueError, match="conditioning"):
        encode_jpeg_arith(img, ac_kx=0)
    with pytest.raises(ValueError, match="DAC"):
        encode_jpeg_arith(img, ac_kx=9, emit_dac=False)
    # 4-component no-transform (Adobe scanned-CMYK) and RGB-space
    # arithmetic: parity with the Huffman rgb_space pipeline, both
    # the explicit 'cmyk' contract and the CMYK-ID auto path; a
    # 4-component scan WITHOUT a CMYK interpretation stays gated
    cimg = (np.arange(12).reshape(3, 4) * 41 + 9) % 256
    ck = np.kron(cimg, np.ones((8, 8), np.int64))
    cmyk = np.stack(
        [ck, (ck + 85) % 256, (ck + 170) % 256, (ck * 3 + 7) % 256], -1
    ).astype(np.uint8)
    ba = encode_jpeg_arith(cmyk, quality=90, rgb_space=True)
    assert np.array_equal(decode_jpeg(ba, color_space="cmyk"), cmyk)
    assert np.array_equal(decode_jpeg(ba), cmyk)  # CMYK ids
    assert np.array_equal(
        decode_jpeg(ba, color_space="cmyk"),
        decode_jpeg(encode_jpeg(cmyk, quality=90, rgb_space=True),
                    color_space="cmyk"),
    )
    with pytest.raises(NotImplementedError):
        decode_jpeg(ba, color_space="ycbcr")
    rgbs = np.stack([ck, (ck + 85) % 256, (ck + 170) % 256], -1
                    ).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_arith(rgbs, quality=90,
                                      rgb_space=True)), rgbs)
    with pytest.raises(ValueError, match="rgb_space"):
        encode_jpeg_arith(img, rgb_space=True)
    with pytest.raises(ValueError, match="rgb_space"):
        encode_jpeg_arith(rgbs, rgb_space=True, subsampling="420")


def test_tiff_jpeg_arithmetic_segments_round12():
    """Arithmetic JPEG-in-TIFF (round 12): every strip/tile a
    complete SOF9 interchange stream through the QM-coder —
    TechNote 2 allows any T.81-legal JPEG, and decode_tiff's jdec
    rides decode_jpeg's 0xC9 dispatch. Gray and chunky YCbCr,
    strips and tiles, both byte orders, bit-exact on the
    block-constant corpus; out-of-scope combinations stay loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
    )

    tiles = (np.arange(12).reshape(3, 4) * 21 + 5) % 256
    img = np.kron(tiles, np.ones((8, 8), np.int64)).astype(np.uint8)
    g3 = np.stack([img] * 3, -1)
    for kw in (dict(rows_per_strip=8), dict(),
               dict(tile=(16, 16)),
               dict(big_endian=True, rows_per_strip=8)):
        assert np.array_equal(
            decode_tiff(encode_tiff_jpeg(img, quality=90, arith=True,
                                         **kw)), g3), ("gray", kw)
        assert np.array_equal(
            decode_tiff(encode_tiff_jpeg(g3, quality=90, arith=True,
                                         **kw)), g3), ("ycbcr", kw)
    for bad in (dict(jpeg_tables=True), dict(rgb_space=True),
                dict(planar=True), dict(old_style=True)):
        with pytest.raises(AssertionError):
            encode_tiff_jpeg(g3, arith=True, **bad)
    # bit-flip stream over the strip layout
    b = encode_tiff_jpeg(img, quality=90, arith=True, rows_per_strip=8)
    for bit in range(len(b) * 8):
        bb = bytearray(b)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_tiff(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith_progressive_round13():
    """SOF10 (progressive arithmetic, T.81 Annex G.2): the stream is
    a lossless re-coding of the SAME quantized coefficients, so
    decoding it must EQUAL the sequential/Huffman-progressive decode
    bit-exactly — across gray/color, 4:4:4/4:2:0/4:2:2, restart
    intervals in every scan kind, custom DAC conditioning, and the
    no-DAC defaults path. Out-of-scope SOF10 variants gate; damage
    and encoder argument validation stay loud."""
    import pytest
    import struct as stt

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_arith_progressive,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(31)
    nat = rng.randint(0, 256, (21, 26, 3)).astype(np.uint8)
    natg = rng.randint(0, 256, (13, 18)).astype(np.uint8)
    # pixel parity with the sequential pipeline (4:4:4 + gray)
    for q in (75, 90):
        for img in (nat, natg):
            ref = decode_jpeg(encode_jpeg(img, quality=q))
            for kw in (dict(), dict(restart_interval=2),
                       dict(dc_cond=(1, 3), ac_kx=2),
                       dict(emit_dac=False)):
                got = decode_jpeg(
                    encode_jpeg_arith_progressive(img, quality=q, **kw)
                )
                assert np.array_equal(got, ref), (q, img.shape, kw)
    # subsampled parity rides the Huffman-progressive front end
    for sub in ("420", "422"):
        ref = decode_jpeg(
            encode_jpeg_progressive(nat, quality=85, subsampling=sub)
        )
        for ri in (0, 3):
            got = decode_jpeg(encode_jpeg_arith_progressive(
                nat, quality=85, subsampling=sub, restart_interval=ri
            ))
            assert np.array_equal(got, ref), (sub, ri)
    # typically tighter than the Huffman progressive stream
    assert len(encode_jpeg_arith_progressive(nat, quality=90)) < len(
        encode_jpeg_progressive(nat, quality=90)
    )
    # gates: non-8/12 precisions stay out of surface (12-bit SOF10
    # decodes since test_jpeg_arith_progressive_12bit_round13)
    b = bytearray(encode_jpeg_arith_progressive(natg, quality=90))
    at = b.index(b"\xff\xca") + 4
    b[at] = 10
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(b))
    # damage: restart desync, forged spectral band, truncation
    b = bytearray(encode_jpeg_arith_progressive(
        np.stack([natg] * 3, -1), quality=90, restart_interval=1
    ))
    rst = b.index(b"\xff\xd0")
    b[rst + 1] = 0xD4
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(b))
    b = bytearray(encode_jpeg_arith_progressive(natg, quality=90))
    at = b.index(b"\xff\xda")
    (ln,) = stt.unpack_from(">H", b, at + 2)
    b[at + 2 + ln - 3] = 77  # forge Se above the band bound
    b[at + 2 + ln - 4] = 99  # ...and Ss beyond it
    with pytest.raises(ValueError):
        decode_jpeg(bytes(b))
    # truncation: INSIDE entropy data the QM zero-feed termination
    # convention may still decode (same contract as SOF9 — the coder
    # reads zeros past the segment end), but no cut may ever escape
    # the ValueError/NotImplementedError class; cutting into a
    # MARKER header is always loud
    full = bytes(encode_jpeg_arith_progressive(nat, quality=90))
    for cut in (10, len(full) // 3, len(full) // 2, len(full) - 2):
        try:
            decode_jpeg(full[:cut])
        except (ValueError, NotImplementedError):
            pass
    with pytest.raises(ValueError):
        decode_jpeg(full[: full.index(b"\xff\xca") + 3])
    # encoder argument validation mirrors the sequential encoder
    with pytest.raises(ValueError, match="conditioning"):
        encode_jpeg_arith_progressive(natg, dc_cond=(3, 1))
    with pytest.raises(ValueError, match="DAC"):
        encode_jpeg_arith_progressive(natg, ac_kx=9, emit_dac=False)


def test_tiff_ojpeg_lossless_round13():
    """Old-style JPEG-in-TIFF with JPEGProc 14 (lossless, the TIFF
    6.0 §22 layout DNG's ancestors shipped): exact round trips on
    FULL-ENTROPY rasters (lossless needs no block-constant trick)
    across predictors, point transform, non-MCU-aligned strips,
    gray + RGB, both byte orders; structural damage and the
    remaining gates stay loud."""
    import pytest
    import struct as stt

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_ojpeg_lossless,
    )

    rng = np.random.RandomState(23)
    g = rng.randint(0, 256, (17, 23)).astype(np.uint8)
    c = rng.randint(0, 256, (20, 15, 3)).astype(np.uint8)
    for src, want in ((g, np.stack([g] * 3, -1)), (c, c)):
        for pred in range(1, 8):
            got = decode_tiff(encode_tiff_ojpeg_lossless(
                src, predictor=pred, rows_per_strip=5,
                big_endian=bool(pred % 2),
            ))
            assert np.array_equal(got, want), (src.shape, pred)
    # point transform: coded at reduced precision, re-scaled <<pt
    got = decode_tiff(encode_tiff_ojpeg_lossless(
        g, predictor=4, point_transform=2
    ))
    assert np.array_equal(got[..., 0], (g >> 2) << 2)
    # mixed per-component predictors gate (one predictor per scan)
    b = bytearray(encode_tiff_ojpeg_lossless(c, predictor=3))
    ifd = stt.unpack_from("<I", b, 4)[0]
    n = stt.unpack_from("<H", b, ifd)[0]
    for k in range(n):
        at = ifd + 2 + 12 * k
        if stt.unpack_from("<H", b, at)[0] == 517:
            voff = stt.unpack_from("<I", b, at + 8)[0]
            # count 3 SHORTs live out-of-line; perturb one
            b[voff] = 5
            break
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(b))
    # forged JPEGProc gates
    b = bytearray(encode_tiff_ojpeg_lossless(g))
    ifd = stt.unpack_from("<I", b, 4)[0]
    n = stt.unpack_from("<H", b, ifd)[0]
    for k in range(n):
        at = ifd + 2 + 12 * k
        if stt.unpack_from("<H", b, at)[0] == 512:
            b[at + 8] = 2  # JPEGProc 2: neither baseline nor lossless
            break
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(b))
    # 16-BIT rasters (the DNG-class depth the layout really carried):
    # exact round trips on full-entropy uint16, gray + RGB, strips +
    # point transform; 12-bit stays a pure-JPEG capability (real
    # files carry 12-bit data in 16-bit containers)
    g16 = rng.randint(0, 65536, (14, 19)).astype(np.uint16)
    c16 = rng.randint(0, 65536, (11, 13, 3)).astype(np.uint16)
    for src, want in ((g16, np.stack([g16] * 3, -1)), (c16, c16)):
        got = decode_tiff(encode_tiff_ojpeg_lossless(
            src, predictor=4, rows_per_strip=4
        ))
        assert got.dtype == np.uint16
        assert np.array_equal(got, want), src.shape
    got = decode_tiff(encode_tiff_ojpeg_lossless(g16, point_transform=3))
    assert np.array_equal(
        got[..., 0].astype(np.int64),
        (g16.astype(np.int64) >> 3) << 3,
    )
    with pytest.raises(AssertionError):
        encode_tiff_ojpeg_lossless(g16, precision=12)
    # bit-flip contract over the proc-14 walk (8-bit + 16-bit)
    small = rng.randint(0, 256, (9, 11)).astype(np.uint8)
    small16 = rng.randint(0, 65536, (6, 7)).astype(np.uint16)
    for data in (
        encode_tiff_ojpeg_lossless(small, rows_per_strip=3),
        encode_tiff_ojpeg_lossless(small16, rows_per_strip=3),
    ):
        for bit in range(len(data) * 8):
            bb = bytearray(data)
            bb[bit // 8] ^= 1 << (bit % 8)
            try:
                decode_tiff(bytes(bb))
            except (ValueError, NotImplementedError):
                pass


def test_jpeg_arith_hierarchical_round13():
    """Arithmetic HIERARCHIES (T.81 Annex J over the Annex D
    QM-coder): SOF9 base + SOF13 differential frames carry the SAME
    per-frame quantized coefficients as the Huffman pyramid, so the
    decoded output is bit-identical across EXP pyramids, quality
    hierarchies, restarts, gray + color. Arithmetic
    progressive/lossless hierarchical frames keep their gates."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_hierarchical,
    )

    rng = np.random.RandomState(53)
    for shape in [(24, 31), (20, 25, 3)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        for kw in (dict(levels=2), dict(levels=3),
                   dict(levels=2, restart_interval=2),
                   dict(levels=3, expansion=False, quality=35)):
            ref = decode_jpeg(encode_jpeg_hierarchical(img, **kw))
            got = decode_jpeg(
                encode_jpeg_hierarchical(img, arith=True, **kw)
            )
            assert np.array_equal(got, ref), (shape, kw)
    # the structural marker walk still pins the pyramid: same frame
    # count and restart census as the Huffman layout
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        jpeg_marker_summary,
    )

    img = rng.randint(0, 256, (24, 31)).astype(np.uint8)
    bh_ = encode_jpeg_hierarchical(img, levels=3, restart_interval=2)
    ba_ = encode_jpeg_hierarchical(
        img, levels=3, restart_interval=2, arith=True
    )
    assert jpeg_marker_summary(ba_)[4]
    assert jpeg_marker_summary(bh_)[1:3] == jpeg_marker_summary(ba_)[1:3]
    # gates: a progressive-arithmetic frame inside a hierarchy stays
    # out of surface (forge the SOF13 marker to SOF14 = 0xCE)
    bb = bytearray(ba_)
    at = bb.index(b"\xff\xcd")
    bb[at + 1] = 0xCE
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bb))
    # bit-flip contract over the arithmetic pyramid walk
    small = rng.randint(0, 256, (10, 12)).astype(np.uint8)
    data = encode_jpeg_hierarchical(
        small, levels=2, restart_interval=1, arith=True
    )
    for bit in range(len(data) * 8):
        b2 = bytearray(data)
        b2[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(b2))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith12_round13():
    """SOF9 at precision 12 (the DICOM/DNG class on arithmetic
    coding): decode parity with the Huffman-12 pipeline — same
    front end, same quantized coefficients, so pixels must be
    bit-identical — on block-constant AND full-entropy 12-bit
    rasters, gray + 4:4:4 color, restarts + conditioning + no-DAC.
    uint16 output; 12-bit RGB-space and 4-component stay gated."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg12,
        encode_jpeg_arith12,
    )

    rng = np.random.RandomState(41)
    g12 = rng.randint(0, 4096, (19, 22)).astype(np.uint16)
    c12 = rng.randint(0, 4096, (16, 17, 3)).astype(np.uint16)
    for src in (g12, c12):
        for kw in (dict(), dict(restart_interval=2),
                   dict(dc_cond=(1, 2), ac_kx=12),
                   dict(emit_dac=False)):
            ref = decode_jpeg(encode_jpeg12(
                src, quality=88,
                restart_interval=kw.get("restart_interval", 0),
            ))
            got = decode_jpeg(
                encode_jpeg_arith12(src, quality=88, **kw)
            )
            assert got.dtype == np.uint16
            assert np.array_equal(got, ref), (src.shape, kw)
    # encoder validation + the remaining precision gates
    with pytest.raises(ValueError):
        encode_jpeg_arith12((g12.astype(np.int64) + 4096).astype(
            np.uint16))
    b = bytearray(encode_jpeg_arith12(g12, quality=90))
    at = b.index(b"\xff\xc9") + 4
    b[at] = 10  # neither 8 nor 12
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(b))
    # bit-flip contract over the 12-bit arithmetic walk
    tiles = (np.arange(6).reshape(2, 3) * 47 + 11) % 256
    small = ((np.kron(tiles, np.ones((8, 8), np.int64)) * 16 + 3)
             % 4096).astype(np.uint16)
    data = encode_jpeg_arith12(small, quality=90, restart_interval=1)
    for bit in range(len(data) * 8):
        bb = bytearray(data)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith_progressive_12bit_round13():
    """SOF10 at precision 12: lossless re-coding of the 12-bit
    sequential-arithmetic coefficients, so decode parity with
    encode_jpeg_arith12 must be bit-exact (uint16) — gray + 4:4:4
    color, restarts, the full successive-approximation cascade.
    Validation and the subsampled-12-bit gate stay loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_arith12,
        encode_jpeg_arith_progressive,
    )

    rng = np.random.RandomState(43)
    g12 = rng.randint(0, 4096, (19, 22)).astype(np.uint16)
    c12 = rng.randint(0, 4096, (16, 17, 3)).astype(np.uint16)
    for src in (g12, c12):
        ref = decode_jpeg(encode_jpeg_arith12(src, quality=88))
        for ri in (0, 2):
            got = decode_jpeg(encode_jpeg_arith_progressive(
                src, quality=88, restart_interval=ri, precision=12
            ))
            assert got.dtype == np.uint16
            assert np.array_equal(got, ref), (src.shape, ri)
    with pytest.raises(ValueError, match="4:4:4"):
        encode_jpeg_arith_progressive(
            c12, precision=12, subsampling="420"
        )
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg_arith_progressive(g12, precision=10)


def test_jpeg_progressive_12bit_round13():
    """12-bit HUFFMAN progressive (SOF2 precision 12): lossless
    re-coding of the encode_jpeg12 coefficients, so decode parity
    with the 12-bit sequential stream is bit-exact (uint16); the
    DC-first scan ships its own optimal table (12-bit categories
    pass the fixed Annex K range). 8-bit callers are unchanged."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg12,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(47)
    g12 = rng.randint(0, 4096, (19, 22)).astype(np.uint16)
    c12 = rng.randint(0, 4096, (16, 17, 3)).astype(np.uint16)
    for src in (g12, c12):
        ref = decode_jpeg(encode_jpeg12(src, quality=88))
        for ri in (0, 2):
            got = decode_jpeg(encode_jpeg_progressive(
                src, quality=88, restart_interval=ri, precision=12
            ))
            assert got.dtype == np.uint16
            assert np.array_equal(got, ref), (src.shape, ri)
    with pytest.raises(ValueError, match="4:4:4"):
        encode_jpeg_progressive(c12, precision=12, subsampling="420")
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg_progressive(g12, precision=16)
    # bit-flip contract over the 12-bit multi-scan walk
    small = ((rng.randint(0, 256, (9, 11)).astype(np.int64) * 16 + 3)
             % 4096).astype(np.uint16)
    data = encode_jpeg_progressive(small, quality=90, precision=12,
                                   restart_interval=1)
    for bit in range(len(data) * 8):
        bb = bytearray(data)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith_progressive_bitflip_sweep():
    """Bit-flip contract over the SOF10 walk: every single-bit
    corruption of a restarted 4:2:0 progressive arithmetic file
    either decodes or raises ValueError/NotImplementedError."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_arith_progressive,
    )

    tiles = (np.arange(6).reshape(2, 3) * 47 + 11) % 256
    img = np.kron(tiles, np.ones((8, 8), np.int64)).astype(np.uint8)
    b = encode_jpeg_arith_progressive(
        np.stack([img] * 3, -1), quality=90,
        subsampling="420", restart_interval=1,
    )
    for bit in range(len(b) * 8):
        bb = bytearray(b)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_jpeg_arith_bitflip_sweep():
    """Bit-flip contract over the arithmetic walk: every single-bit
    corruption of a restarted color SOF9 file either decodes or
    raises ValueError/NotImplementedError — never a crash, stall, or
    foreign exception class."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg_arith,
    )

    tiles = (np.arange(6).reshape(2, 3) * 47 + 11) % 256
    img = np.kron(tiles, np.ones((8, 8), np.int64)).astype(np.uint8)
    b = encode_jpeg_arith(
        np.stack([img] * 3, -1), quality=90,
        subsampling="420", restart_interval=1,
    )
    for bit in range(len(b) * 8):
        bb = bytearray(b)
        bb[bit // 8] ^= 1 << (bit % 8)
        try:
            decode_jpeg(bytes(bb))
        except (ValueError, NotImplementedError):
            pass


def test_tiff_ycbcr_organizations_round12():
    """Round 12 — the raw-YCbCr ORGANIZATION gates: planar strip
    sets, tiled chunky data-unit grids, and tiled per-plane raster
    grids all decode IDENTICALLY to the chunky-strip reference on
    the same Y/Cb/Cr samples (the codec layer is lossless, so the
    layouts are pixel-invisible); YCbCrCoefficients (tag 529) feeds
    the general inverse with hand-pinned exact-dyadic constants, the
    default triple stays bit-identical, and malformed/degenerate
    coefficient tags plus non-multiple tile dims are loud."""
    import pytest
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_ycbcr,
    )

    rng = np.random.RandomState(12)
    for trial in range(8):
        sh, sv = [(1, 1), (2, 2), (2, 1), (4, 2)][trial % 4]
        h, w = rng.randint(3, 25), rng.randint(3, 25)
        yp = rng.randint(0, 256, (h, w)).astype(np.uint8)
        td, ta = -(-h // sv), -(-w // sh)
        cb = rng.randint(0, 256, (td, ta)).astype(np.uint8)
        cr = rng.randint(0, 256, (td, ta)).astype(np.uint8)
        comp = ("none", "packbits", "lzw", "deflate")[trial % 4]
        kw = dict(compression=comp, big_endian=bool(trial % 2))
        ref = decode_tiff(encode_tiff_ycbcr(yp, cb, cr, (sh, sv), **kw))
        # planar strips (single- and multi-strip)
        for rps in (0, 2 * sv):
            got = decode_tiff(encode_tiff_ycbcr(
                yp, cb, cr, (sh, sv), rows_per_strip=rps,
                planar=True, **kw))
            assert np.array_equal(got, ref), (trial, "planar", rps)
        # tiled chunky data-unit grids (tile dims unit multiples,
        # edge tiles padded)
        got = decode_tiff(encode_tiff_ycbcr(
            yp, cb, cr, (sh, sv), tile=(4 * sh, 4 * sv), **kw))
        assert np.array_equal(got, ref), (trial, "tiled")
        # tiled planar per-plane raster grids
        got = decode_tiff(encode_tiff_ycbcr(
            yp, cb, cr, (sh, sv), tile=(4 * sh, 4 * sv),
            planar=True, **kw))
        assert np.array_equal(got, ref), (trial, "tiled planar")
    # custom luma coefficients: (1/4, 1/2, 1/4) gives exact dyadic
    # inverse constants crk = cbk = 1.5, gcr = gcb = 0.75 — pin the
    # hand-computed spot values through every organization
    yp = np.full((4, 4), 100, np.uint8)
    cbq = np.full((2, 2), 144, np.uint8)  # +16
    crq = np.full((2, 2), 112, np.uint8)  # -16
    lum = [1, 4, 1, 2, 1, 4]
    want = np.zeros((4, 4, 3), np.uint8)
    want[..., 0] = 76    # 100 + 1.5*(-16)
    want[..., 1] = 100   # 100 - 0.75*16 - 0.75*(-16)
    want[..., 2] = 124   # 100 + 1.5*16
    for kw in (dict(), dict(planar=True), dict(tile=(4, 4)),
               dict(tile=(4, 4), planar=True)):
        got = decode_tiff(encode_tiff_ycbcr(
            yp, cbq, crq, (2, 2), luma=lum, **kw))
        assert np.array_equal(got, want), kw
    # the DEFAULT triple written explicitly stays bit-identical to
    # the tag-free literal-constant path
    rngp = np.random.RandomState(5)
    yr = rngp.randint(0, 256, (6, 7)).astype(np.uint8)
    cbr = rngp.randint(0, 256, (3, 4)).astype(np.uint8)
    crr = rngp.randint(0, 256, (3, 4)).astype(np.uint8)
    assert np.array_equal(
        decode_tiff(encode_tiff_ycbcr(
            yr, cbr, crr, (2, 2), luma=[299, 1000, 587, 1000, 114, 1000])),
        decode_tiff(encode_tiff_ycbcr(yr, cbr, crr, (2, 2))),
    )
    # malformed / degenerate coefficient tags are loud
    with pytest.raises(ValueError, match="YCbCrCoefficients"):
        decode_tiff(encode_tiff_ycbcr(
            yp, cbq, crq, (2, 2), luma=[1, 4, 1, 0, 1, 4]))
    with pytest.raises(ValueError, match="YCbCrCoefficients"):
        decode_tiff(encode_tiff_ycbcr(
            yp, cbq, crq, (2, 2), luma=[1, 4, 0, 2, 1, 4]))
    # NON-NORMALIZED triples (lr+lg+lb != 1) are loud too (round-13
    # advice fix: the G inverse assumes the weights sum to 1, so a
    # non-normalized tag would silently decode a wrong green channel)
    with pytest.raises(ValueError, match="not normalized"):
        decode_tiff(encode_tiff_ycbcr(
            yp, cbq, crq, (2, 2), luma=[1, 2, 1, 2, 1, 2]))
    with pytest.raises(ValueError, match="not normalized"):
        decode_tiff(encode_tiff_ycbcr(
            yp, cbq, crq, (2, 2), luma=[299, 1000, 587, 1000, 115, 1000]))
    # ...and the exact-rational check has NO float tolerance: a
    # triple off by 1e-6 of the default is rejected, while an
    # unreduced-but-exact spelling of 1 passes
    got = decode_tiff(encode_tiff_ycbcr(
        yp, cbq, crq, (2, 2), luma=[2, 8, 2, 4, 2, 8]))
    assert np.array_equal(got, want)
    # forged tile width not a multiple of the subsampling is loud
    b = bytearray(encode_tiff_ycbcr(yp, cbq, crq, (2, 2), tile=(4, 4)))
    ifd = int.from_bytes(b[4:8], "little")
    n = int.from_bytes(b[ifd : ifd + 2], "little")
    for k in range(n):
        at = ifd + 2 + 12 * k
        if int.from_bytes(b[at : at + 2], "little") == 322:
            b[at + 8 : at + 10] = st.pack("<H", 3)
    with pytest.raises(ValueError, match="subsampling"):
        decode_tiff(bytes(b))


def test_tiff_ycbcr_organization_bitflip_sweep_round12():
    """Bit-flip contract over the new raw-YCbCr walks: every
    single-bit corruption of a planar multi-strip file and a tiled
    chunky file either decodes or raises ValueError (the
    NotImplementedError escape stays for gated photometrics)."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_ycbcr,
    )

    rng = np.random.RandomState(3)
    yp = rng.randint(0, 256, (6, 9)).astype(np.uint8)
    cb = rng.randint(0, 256, (3, 5)).astype(np.uint8)
    cr = rng.randint(0, 256, (3, 5)).astype(np.uint8)
    for b in (
        encode_tiff_ycbcr(yp, cb, cr, (2, 2), rows_per_strip=2,
                          planar=True),
        encode_tiff_ycbcr(yp, cb, cr, (2, 2), tile=(4, 4)),
    ):
        for bit in range(len(b) * 8):
            bb = bytearray(b)
            bb[bit // 8] ^= 1 << (bit % 8)
            try:
                decode_tiff(bytes(bb))
            except (ValueError, NotImplementedError):
                pass


def ms_adpcm_decode(nibbles, pred_idx: int, delta0: int, s1: int,
                    s2: int, coefs=None):
    """Decode a mono MS ADPCM nibble sequence. Returns the int16
    sample list [s2, s1, d_1, ..., d_n] (the two block-header
    samples in playback order, then one sample per code)."""
    c1, c2 = (coefs or _MS_COEFS)[pred_idx]
    a, prev, d = int(s1), int(s2), int(delta0)
    out = [prev, a]
    for nib in nibbles:
        samp, d = ms_adpcm_step(a, prev, d, c1, c2, int(nib))
        a, prev = samp, a
        out.append(samp)
    return out


def test_ms_adpcm_decode_reference_and_stereo():
    """MS ADPCM (WAV format 2): mono decode matches the pure-Python
    state machine (truncating division, signed nibbles, floor-16
    delta, clamp rails), stereo channels stay independent with the
    interleaved header layout, a custom fmt-chunk coefficient table
    is honored, and corrupt predictor indices are loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_wav_full,
        decode_wav,
        encode_wav_ms_adpcm,
        encode_wav_ms_adpcm_stereo,
    )

    # truncation semantics pinned: negative prediction truncates
    # toward zero ((-300*512 + 200*-256) / 256 = -204800/256 = -800)
    samp, nd = ms_adpcm_step(-300, 200, 20, 512, -256, 0x9)
    assert samp == -800 + (9 - 16) * 20 and nd == max(16, 614 * 20 // 256)
    # clamp rails + delta floor
    samp, nd = ms_adpcm_step(-30000, 30000, 500, 512, -256, 8)
    assert samp == -32768
    _, nd = ms_adpcm_step(0, 0, 16, 256, 0, 0)
    assert nd == 16  # 230*16//256 = 14 -> floored to 16
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _MS_NIB_BIAS,
    )

    bias = np.array(_MS_NIB_BIAS, np.uint8)
    for i in (0, 3, 6):
        ns = 180 + (i % 4) * 16
        codes = bias[(i * 7 + np.arange(ns) * 5) % 16]
        init = (i % 7, 16 + (i * 11) % 200,
                ((i * 53) % 800) - 400, ((i * 31) % 600) - 300)
        s, rate, fmt, bits = _decode_wav_full(
            encode_wav_ms_adpcm(codes, *init)
        )
        assert (fmt, bits) == (2, 4) and s.dtype == np.int16
        assert (s[:, 0] == np.array(
            ms_adpcm_decode(codes, *init), np.int16)).all(), i
    # a uniform nibble sweep multiplies delta ~96x every 16 samples;
    # the divergence guard (ffmpeg's idelta-overflow check) is loud
    # long before int64 accumulators overflow
    runaway = ((np.arange(200) * 5) % 16).astype(np.uint8)
    with pytest.raises(ValueError, match="diverged"):
        decode_wav(encode_wav_ms_adpcm(runaway, 0, 32000, 0, 0))
    # stereo: per-channel mono replay, channel swap changes output
    nl = bias[(np.arange(96) * 3 + 1) % 16]
    nr = bias[(np.arange(96) * 7 + 4) % 16]
    il, ir = (2, 40, 120, -80), (5, 33, -300, 250)
    s, _ = decode_wav(encode_wav_ms_adpcm_stereo(nl, nr, il, ir))
    assert s.shape == (98, 2)
    assert (s[:, 0] == np.array(ms_adpcm_decode(nl, *il), np.int16)).all()
    assert (s[:, 1] == np.array(ms_adpcm_decode(nr, *ir), np.int16)).all()
    s2, _ = decode_wav(encode_wav_ms_adpcm_stereo(nr, nl, ir, il))
    assert (s2[:, 0] == s[:, 1]).all() and (s2[:, 1] == s[:, 0]).all()
    # wSamplesPerBlock bounds the decode: patching it below the
    # nibble count drops the trailing codes as padding (how real
    # files mark a short final block); odd streams are rejected at
    # encode (a pad nibble would masquerade as a sample)
    wb = bytearray(encode_wav_ms_adpcm(nl, 2, 40, 120, -80))
    spb_at = wb.index(b"fmt ") + 8 + 18
    assert int.from_bytes(wb[spb_at : spb_at + 2], "little") == 98
    wb[spb_at : spb_at + 2] = (60).to_bytes(2, "little")
    s_short, _ = decode_wav(bytes(wb))
    assert s_short.shape == (60, 1)
    assert (s_short[:, 0] == np.array(
        ms_adpcm_decode(nl[:58], 2, 40, 120, -80), np.int16)).all()
    with pytest.raises(AssertionError, match="even-length"):
        encode_wav_ms_adpcm(nl[:95], 0, 16, 0, 0)
    # a header predictor index past the coef table is corrupt
    bad = bytearray(encode_wav_ms_adpcm(nl, 0, 16, 0, 0))
    bad[bad.index(b"data") + 8] = 9
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav(bytes(bad))
    # a truncated custom coef table is corrupt, and a SHORTER valid
    # one tightens the predictor-index bound
    short = bytearray(encode_wav_ms_adpcm(nl, 0, 16, 0, 0))
    ncoef_off = short.index(b"fmt ") + 8 + 18 + 2
    short[ncoef_off:ncoef_off + 2] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError, match="coef table"):
        decode_wav(bytes(short))


def test_wav_pcm_width_family_roundtrip_and_kernels(spark):
    """Round-8 gate retirement: unsigned 8-bit PCM, 24-bit integer
    PCM, and IEEE float32 (format 3) all decode for real — dtype
    conveys the width, both Arrow kernels normalize consistently, and
    the q118 closed forms hold (one amplitude = one level at every
    width)."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_wav_full,
        audio_exact_stats,
        audio_features,
        encode_wav,
        encode_wav_float32,
        encode_wav_pcm8,
        encode_wav_pcm24,
        encode_wav_pcm32,
    )

    # 8-bit: offset-binary bytes re-center to the int16 scale
    u = np.array([0, 1, 128, 200, 255], np.uint8)
    s, rate, fmt, bits = _decode_wav_full(encode_wav_pcm8(u, 8000))
    assert (fmt, bits, rate) == (1, 8, 8000) and s.dtype == np.int16
    assert (s[:, 0] == (u.astype(np.int16) - 128) * 256).all()
    # 24-bit: exact sign extension across the full range
    v = np.array([0, 1, -1, 0x7FFFFF, -0x800000, -12345], np.int32)
    s, rate, fmt, bits = _decode_wav_full(encode_wav_pcm24(v, 44100))
    assert (fmt, bits) == (1, 24) and s.dtype == np.int32
    assert (s[:, 0] == v).all()
    with pytest.raises(ValueError, match="out of range"):
        encode_wav_pcm24(np.array([0x800000], np.int32))
    # float32 (stereo) with the spec's fact chunk in the walk
    fl = np.array([[0.5, -0.25], [1.0, -1.0], [0.0, 0.125]], np.float32)
    s, rate, fmt, bits = _decode_wav_full(encode_wav_float32(fl, 48000))
    assert (fmt, bits, rate) == (3, 32, 48000) and s.dtype == np.float32
    assert np.array_equal(s, fl)

    # kernels: same amplitude at every width -> same normalized level,
    # exact sums at each width's documented scale
    amp, frames = 12500, 1600  # amp % 256 == 212 (8-bit drops it)
    df = spark.createDataFrame(
        [
            (0, bytearray(encode_wav(np.full(frames, amp, np.int16), 16000))),
            (1, bytearray(encode_wav_pcm8(
                np.full(frames, 128 + amp // 256, np.uint8), 16000))),
            (2, bytearray(encode_wav_pcm24(
                np.full(frames, amp * 256, np.int32), 16000))),
            (3, bytearray(encode_wav_float32(
                np.full(frames, amp / 32768.0, np.float32), 16000))),
            (4, bytearray(encode_wav_pcm24(
                np.full(frames, amp * 256, np.int32), 16000,
                extensible=True))),
            (5, bytearray(encode_wav_pcm32(
                np.full(frames, amp * 256, np.int32), 16000))),
        ],
        "media_id long, content binary",
    )
    feats = {r["media_id"]: r for r in audio_features(df).collect()}
    assert [feats[i]["bits"] for i in range(6)] == [16, 8, 24, 32, 24, 32]
    assert [feats[i]["fmt_code"] for i in range(6)] == [1, 1, 1, 3, 0xFFFE, 1]
    for i in (0, 2, 3, 4):  # one amplitude, one level at every width
        assert abs(feats[i]["peak"] - amp / 32768.0) < 1e-12
    assert abs(feats[1]["peak"] - (amp // 256 * 256) / 32768.0) < 1e-12
    assert abs(feats[5]["peak"] - (amp * 256) / 2**31) < 1e-12
    exact = {r["media_id"]: r for r in audio_exact_stats(df).collect()}
    assert exact[0]["sum_lin"] == frames * amp
    assert exact[1]["sum_lin"] == frames * (amp // 256 * 256)
    assert exact[2]["sum_lin"] == frames * amp * 256  # raw 24-bit scale
    assert exact[3]["sum_lin"] == frames * amp  # rint(x * 2^15), exact
    assert exact[4]["sum_lin"] == frames * amp * 256  # extensible = plain
    assert exact[5]["sum_lin"] == frames * amp * 256  # raw 32-bit payload
    # non-finite float payload -> nulls, not a poisoned int cast
    nanb = bytearray(encode_wav_float32(np.array([np.nan], np.float32)))
    bad = spark.createDataFrame([(9, nanb)], "media_id long, content binary")
    assert audio_exact_stats(bad).collect()[0]["sum_lin"] is None


def test_wav_wide_sources_in_downstream_kernels(spark):
    """Round-8 review fixes: every kernel that consumes decode_wav
    must honor the new source widths — resample shifts by the SOURCE
    width (32-bit wrapped before), stereo stats quantize float
    sources (truncated to zero before), and exact square sums go
    Python-int instead of silently wrapping int64."""
    import struct as _s

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_wav_full,
        audio_exact_stats,
        audio_stereo_stats,
        decode_wav,
        encode_wav_float32,
        encode_wav_ima_stereo,
        encode_wav_pcm32,
        ima_adpcm_decode,
        resample_audio,
    )

    # resample of full-scale 32-bit PCM: output ~ value >> 16, not 0
    v32 = np.full(1600, 1 << 30, np.int32)
    df = spark.createDataFrame(
        [(0, bytearray(encode_wav_pcm32(v32, 16000)))],
        "media_id long, content binary",
    )
    out = resample_audio(df, 8000).collect()[0]
    dec, rate = decode_wav(bytes(out["content"]))
    assert rate == 8000 and int(dec[0, 0]) == (1 << 30) >> 16

    # stereo float32: quantized exact sums, not zeros
    amp = 12500
    fl = np.stack(
        [np.full(800, amp / 32768.0), np.full(800, -amp / 32768.0)], axis=1
    ).astype(np.float32)
    sdf = spark.createDataFrame(
        [(1, bytearray(encode_wav_float32(fl, 16000)))],
        "media_id long, content binary",
    )
    st = audio_stereo_stats(sdf).collect()[0]
    assert st["sum_left"] == 800 * amp and st["sum_right"] == -800 * amp
    assert st["cross_sum"] == -800 * amp * amp

    # 32-bit square sums: exact via the Python-int path while the true
    # value fits, honest NULL once it cannot
    loud = np.full(2, (1 << 31) - 1, np.int32)  # 2*(2^31-1)^2 just fits
    e1 = audio_exact_stats(spark.createDataFrame(
        [(2, bytearray(encode_wav_pcm32(loud, 16000)))],
        "media_id long, content binary",
    )).collect()[0]
    assert e1["sum_sq"] == 2 * ((1 << 31) - 1) ** 2
    louder = np.full(3, (1 << 31) - 1, np.int32)
    e2 = audio_exact_stats(spark.createDataFrame(
        [(3, bytearray(encode_wav_pcm32(louder, 16000)))],
        "media_id long, content binary",
    )).collect()[0]
    assert e2["sum_sq"] is None  # 3*(2^31-1)^2 > int64 max

    # extensible-wrapped multichannel ADPCM surfaces the CONTAINER code
    t = np.arange(96, dtype=np.int64)
    nl = ((t * 5 + 3) % 16).astype(np.uint8)
    nr = ((t * 7 + 9) % 16).astype(np.uint8)
    plain = encode_wav_ima_stereo(nl, nr, (100, 10), (-200, 40))
    d_off = plain.index(b"data")
    data = plain[d_off:]
    f_off = plain.index(b"fmt ")
    _sz, code, ch, rate_, br, ba, bits = _s.unpack_from(
        "<IHHIIHH", plain, f_off + 4
    )
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _WAV_SUBTYPE_SUFFIX,
    )

    fmt_body = (
        _s.pack("<HHIIHH", 0xFFFE, ch, rate_, br, ba, bits)
        + _s.pack("<HHI", 22, bits, 3)
        + _s.pack("<H", 0x11)
        + _WAV_SUBTYPE_SUFFIX
    )
    ext = (
        b"RIFF"
        + _s.pack("<I", 20 + len(fmt_body) + len(data))
        + b"WAVEfmt "
        + _s.pack("<I", len(fmt_body))
        + fmt_body
        + data
    )
    s, _r, fmt_code, bits_out = _decode_wav_full(ext)
    assert (fmt_code, bits_out) == (0xFFFE, 4)  # container code, not 0x11
    assert (s[:, 0] == np.array(ima_adpcm_decode(nl, 100, 10), np.int16)).all()

    # float64 WAV (format 3 bits 64) decodes natively
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_wav_float64,
        encode_wav_pcm24,
    )

    f64 = np.array([0.5, -0.25, 1.0, -1.0, 0.0], np.float64)
    s, r, fmt, bits_ = _decode_wav_full(encode_wav_float64(f64, 22050))
    assert (fmt, bits_, r) == (3, 64, 22050) and s.dtype == np.float64
    assert np.array_equal(s[:, 0], f64)
    e64 = audio_exact_stats(spark.createDataFrame(
        [(7, bytearray(encode_wav_float64(np.full(100, 12500 / 32768.0))))],
        "media_id long, content binary",
    )).collect()[0]
    assert e64["sum_lin"] == 100 * 12500

    # extensible validBits < bits is left-justified metadata, not a
    # gate: samples decode at container width with zero low bits
    v24 = np.array([5 << 4, -(7 << 4), 0], np.int32)  # 20 valid of 24
    b24 = bytearray(encode_wav_pcm24(v24, 16000, extensible=True))
    f_off2 = bytes(b24).index(b"fmt ")
    b24[f_off2 + 8 + 18] = 20  # wValidBitsPerSample
    s, _r2, fmt2, bits2 = _decode_wav_full(bytes(b24))
    assert (fmt2, bits2) == (0xFFFE, 24) and (s[:, 0] == v24).all()
    # validBits > container bits is corrupt -> loud
    b24[f_off2 + 8 + 18] = 32
    with pytest.raises(ValueError, match="validBits"):
        _decode_wav_full(bytes(b24))


def test_resample_audio_halves_rate(spark):
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        audio_features,
        encode_wav,
        resample_audio,
    )

    t = np.arange(16000, dtype=np.int64)
    mono = ((t % 500) * 100 - 25000).astype(np.int16)
    df = spark.createDataFrame(
        [(0, "audio", bytearray(encode_wav(mono, 16000)), None, None)],
        "media_id long, media_type string, content binary, content_length long, source_uri string",
    )
    out = resample_audio(df, 8000)
    feats = audio_features(out).collect()[0]
    assert feats["sample_rate"] == 8000
    assert abs(feats["duration_sec"] - 1.0) < 1e-3  # same length in seconds


def test_png_roundtrip_every_filter():
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # default cycle 0..4 by row + each filter forced for every row
    for w, h in [(16, 16), (17, 9), (1, 1), (5, 7)]:
        px = make_test_pixels(w, h, seed=5)
        assert (decode_png(encode_png(px)) == px).all()
    px = make_test_pixels(20, 10, seed=3)
    for f in range(5):
        assert (decode_png(encode_png(px, filters=[f] * 10)) == px).all(), f


def test_png_illegal_header_combos_raise_valueerror():
    """The PNG surface is CLOSED (round 8): every legal depth/color
    combination of spec table 11.1 decodes at both interlace methods
    (sub-byte Adam7 was the last gap), so a header outside the table
    is a spec violation — corrupt data, ValueError — never a silent
    mis-decode and no longer a require_codec gate."""
    import struct as _struct

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
    )

    illegal = [
        (4, 2, 0, 0, 0),  # sub-byte truecolor
        (16, 3, 0, 0, 0),  # 16-bit palette
        (3, 0, 0, 0, 0),  # non-power-of-two depth
        (2, 6, 0, 0, 1),  # sub-byte RGBA
        (8, 1, 0, 0, 0),  # undefined color type
        (8, 2, 1, 0, 0),  # unknown compression method
        (8, 2, 0, 1, 0),  # unknown filter method
        (8, 2, 0, 0, 2),  # unknown interlace method
    ]
    for depth, color, comp, filt, inter in illegal:
        ihdr = _struct.pack(">IIBBBBB", 4, 4, depth, color, comp, filt, inter)
        b = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
        with pytest.raises(ValueError):
            decode_png(b)


def test_png_subbyte_adam7_roundtrip():
    """Adam7 at sub-byte depth: each pass bit-packs its OWN scanlines
    (pass stride ceil(wp*depth/8)), so a decoder that reuses the full
    -image stride or leaks filter state across passes mis-decodes.
    Covers gray 1/2/4-bit and sub-byte palette, every filter id,
    ragged/tiny sizes (empty passes), and a tRNS sample key."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png_gray,
        encode_png_palette_subbyte,
    )

    rng = np.random.RandomState(11)
    scale = {8: 1, 4: 17, 2: 85, 1: 255}
    for w, h in [(1, 1), (3, 3), (5, 7), (8, 8), (9, 2), (33, 9), (15, 11)]:
        for d in (1, 2, 4, 8):
            g = rng.randint(0, 1 << d, size=(h, w)).astype(np.uint8)
            out = decode_png(encode_png_gray(g, depth=d, interlace=True))
            assert out.shape == (h, w, 3)
            exp = (g.astype(np.int64) * scale[d]).astype(np.uint8)
            assert (out == exp[..., None]).all(), (w, h, d)
        for d in (1, 2, 4):
            ncol = 1 << d
            pal = np.stack(
                [np.arange(ncol) * 15 % 256,
                 np.arange(ncol) * 31 % 256,
                 np.arange(ncol) * 7 % 256],
                axis=-1,
            ).astype(np.uint8)
            px3 = pal[rng.randint(0, ncol, size=(h, w))]
            out = decode_png(
                encode_png_palette_subbyte(px3, depth=d, interlace=True)
            )
            assert (out == px3).all(), (w, h, d)
    # every filter id on the interlaced sub-byte path
    g = ((np.add.outer(np.arange(13), np.arange(17)) * 5 + 2) % 16).astype(
        np.uint8
    )
    for f in range(5):
        out = decode_png(
            encode_png_gray(g, depth=4, filters=[f] * 13, interlace=True)
        )
        assert (out[..., 0] == g * 17).all(), f
    # tRNS sample key composes with interlaced sub-byte
    out = decode_png(encode_png_gray(g, depth=4, trns_key=5, interlace=True))
    assert out.shape == (13, 17, 4)
    assert ((out[..., 3] == 0) == (g == 5)).all()


def test_png_corrupt_inputs_yield_nulls(spark):
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_png,
    )

    good = encode_png(make_test_pixels(20, 10, seed=1))
    bad_crc = bytearray(good)
    bad_crc[20] ^= 0xFF  # flip a byte inside IHDR -> CRC mismatch
    bad_idat = bytearray(good)
    bad_idat[45] ^= 0x55  # damage IDAT -> inflate/CRC error
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(good), None, None),
            (2, "image", bad_crc, None, None),
            (3, "image", bytearray(good[: len(good) // 2]), None, None),
            (4, "image", bad_idat, None, None),
        ],
        "media_id long, media_type string, content binary, "
        "content_length long, source_uri string",
    )
    rows = {r["media_id"]: r for r in decode_image_meta(df).collect()}
    assert rows[1]["format"] == "png" and rows[1]["width"] == 20
    for mid in (2, 3, 4):
        assert rows[mid]["format"] is None and rows[mid]["width"] is None


def test_png_media_flows_through_resize_and_features(spark):
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        synthetic_png_table,
    )

    media = synthetic_png_table(spark, n=6)
    meta = {r["media_id"]: r for r in decode_image_meta(media).collect()}
    assert all(m["format"] == "png" for m in meta.values())
    assert meta[2]["width"] == 16 + (2 % 6) * 4
    resized = resize_images(media, (8, 8))
    feats = image_features(resized).collect()
    assert len(feats) == 6 and all(r["mean_r"] is not None for r in feats)


def test_jpeg_block_constant_roundtrip_is_exact():
    """Gray-in-RGB block-constant images survive the LOSSY pipeline
    bit-for-bit for DC quant steps < 8 — the q164 oracle's premise."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        jpeg_tile_value,
    )

    for i, q in [(0, 85), (7, 90), (13, 95)]:
        tiles = np.array(
            [[jpeg_tile_value(i, by, bx) for bx in range(4)] for by in range(3)],
            dtype=np.uint8,
        )
        img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
        rgb = np.stack([img, img, img], axis=-1)
        assert np.array_equal(decode_jpeg(encode_jpeg(rgb, quality=q)), rgb)


def test_jpeg_lossy_roundtrip_bounded_and_quality_monotone():
    """Gradient pixels (nonzero AC, runs, ZRL territory) round-trip
    within tight error at high quality; error grows as quality drops."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        make_test_pixels,
    )

    px = make_test_pixels(29, 21, seed=4)  # non-multiple-of-8 edges too
    errs = {}
    for q in (95, 75, 40):
        dec = decode_jpeg(encode_jpeg(px, quality=q))
        assert dec.shape == px.shape
        errs[q] = np.abs(dec.astype(int) - px.astype(int)).mean()
    assert errs[95] <= 1.0
    assert errs[95] <= errs[75] <= errs[40]


def test_jpeg_grayscale_single_component():
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        make_test_pixels,
    )

    g = np.asarray(make_test_pixels(17, 9, seed=2))[:, :, 0]
    dec = decode_jpeg(encode_jpeg(g, quality=92))
    assert dec.shape == (9, 17, 3)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 1
    assert np.array_equal(dec[:, :, 0], dec[:, :, 1])  # replicated channels


def test_jpeg_gates_and_corrupt_safety(spark):
    """Non-baseline variants gate via require_codec; structural damage
    raises ValueError and surfaces as null rows through the kernel."""
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_meta,
        decode_jpeg,
        encode_jpeg,
        make_test_pixels,
    )

    good = encode_jpeg(make_test_pixels(16, 16, seed=1), quality=80)
    # flipping SOF0 to SOF2 forges a progressive header onto a
    # baseline scan (Ss=0, Se=63 is illegal in SOF2) — the real
    # progressive decoder now engages and rejects it loudly instead
    # of gating (real progressive streams decode:
    # test_jpeg_progressive_equals_baseline_decode)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="mixes DC and AC"):
        decode_jpeg(prog)
    # extended-sequential (SOF1) at 8-bit decodes on the baseline
    # path — entropy coding is identical, so flipping the marker
    # changes nothing about the pixels
    assert np.array_equal(
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc1", 1)),
        decode_jpeg(good),
    )
    # truncated entropy stream -> ValueError
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])
    # a header cut inside its first marker segment: every entry point
    # that walks markers gives the same answer
    from e_commerce_data_pipeline_spark.operators import multimodal as m

    for cut in (b"\xff\xd8\xff\xe0\x00", b"\xff\xd8\xff\xe0", b"\xff\xd8\xff"):
        for entry in (
            decode_jpeg, m.jpeg_marker_summary, m._decode_jpeg_lossless,
            m._decode_jpeg_progressive, m._decode_jpeg_arith_progressive,
            m._decode_jpeg_hierarchical, m._decode_jpeg_arith,
            m._jpeg_split_tables, m._jpeg_dissect,
        ):
            with pytest.raises(ValueError):
                entry(cut)
    # corrupt payloads become null rows in the kernel, never failures
    rows = [
        (1, "image", good, None, "mem://a.jpg"),
        (2, "image", good[:20], None, "mem://b.jpg"),
        (3, "image", b"\xff\xd8garbage", None, "mem://c.jpg"),
    ]
    # NULL content must also be a null row in the frame kernel
    # (review finding: bytes(None) was an uncaught TypeError)
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        gif_frame_stats,
    )

    ndf = spark.createDataFrame(
        [(9, "image", None, None, "mem://n.gif")], MEDIA_SCHEMA
    ).withColumn("content_length", F.length("content").cast("long"))
    nrows = gif_frame_stats(ndf).collect()
    assert len(nrows) == 1 and nrows[0].n_px is None
    df = spark.createDataFrame(rows, MEDIA_SCHEMA).withColumn(
        "content_length", F.length("content").cast("long")
    )
    out = {r.media_id: r.width for r in decode_image_meta(df).collect()}
    assert out[1] == 16 and out[2] is None and out[3] is None


def test_jpeg_420_roundtrip_and_mcu_tile_exactness():
    """4:2:0: 16x16 constant tiles decode bit-exact (MCU-aligned, so
    chroma down/upsample are identity); gradients stay bounded; the
    stream really is subsampled (smaller than 4:4:4 of the same
    pixels)."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        jpeg420_tile_value,
        make_test_pixels,
    )

    tiles = np.array(
        [[jpeg420_tile_value(3, by, bx) for bx in range(3)] for by in range(2)],
        dtype=np.uint8,
    )
    img = np.kron(tiles, np.ones((16, 16), dtype=np.uint8))
    rgb = np.stack([img, img, img], axis=-1)
    enc420 = encode_jpeg(rgb, quality=90, subsampling="420")
    assert np.array_equal(decode_jpeg(enc420), rgb)
    assert len(enc420) < len(encode_jpeg(rgb, quality=90))

    px = make_test_pixels(29, 21, seed=4)  # odd dims: padded MCU edges
    dec = decode_jpeg(encode_jpeg(px, quality=85, subsampling="420"))
    assert dec.shape == px.shape
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= 8


def test_jpeg_subsampling_family_mcu_exactness():
    """4:2:2 / 4:4:0 / 4:1:1: MCU-sized constant tiles decode
    bit-exact (box down/upsample are identity on them), odd sizes
    pad and crop correctly, and each layout really shrinks the
    stream relative to 4:4:4 of the same pixels."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    for sub, (fh, fv) in (("422", (2, 1)), ("440", (1, 2)), ("411", (4, 1))):
        tw, th = 8 * fh, 8 * fv
        tiles = np.array(
            [[(by * 29 + bx * 43 + 5) % 256 for bx in range(3)]
             for by in range(2)],
            dtype=np.uint8,
        )
        img = np.kron(tiles, np.ones((th, tw), dtype=np.uint8))
        rgb = np.stack([img, img, img], axis=-1)
        enc = encode_jpeg(rgb, quality=90, subsampling=sub)
        assert np.array_equal(decode_jpeg(enc), rgb), sub
        assert len(enc) < len(encode_jpeg(rgb, quality=90)), sub
        # odd dims: padded MCU edges stay bounded on a smooth
        # non-wrapping gradient (mod-256 wraps in make_test_pixels
        # are legitimately lossy under wide chroma boxes)
        w2, h2 = 8 * fh * 2 + 3, 8 * fv * 2 + 5
        yy = np.arange(h2)[:, None]
        xx = np.arange(w2)[None, :]
        px = np.stack(
            [np.clip(40 + 3 * xx + 2 * yy, 0, 215) + c * 10
             for c in range(3)],
            axis=-1,
        ).astype(np.uint8)
        dec = decode_jpeg(encode_jpeg(px, quality=85, subsampling=sub))
        assert dec.shape == px.shape, sub
        assert np.abs(dec.astype(int) - px.astype(int)).max() <= 12, sub


def test_jpeg_extended_sequential_16bit_tables():
    """SOF1 + Pq=1 16-bit quantization tables: the emitted stream
    carries the extended markers, table entries above 255 parse
    correctly (a stride or endianness bug scrambles the decode), and
    block-constant corpora stay bit-exact because DC entries are
    untouched."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        make_test_pixels,
    )

    tiles = np.array([[7, 131, 252], [64, 199, 18]], dtype=np.uint8)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
    rgb = np.stack([img, img, img], axis=-1)
    b = encode_jpeg(rgb, quality=90, extended=True)
    assert b"\xff\xc1" in b and b"\xff\xc0" not in b
    sof1_at = b.index(b"\xff\xc1")
    dqt_at = b.index(b"\xff\xdb")
    assert dqt_at < sof1_at and b[dqt_at + 4] == 0x10  # Pq=1, Tq=0
    assert np.array_equal(decode_jpeg(b), rgb)
    # gradients: decode succeeds and stays a coarse approximation
    # (the lifted AC steps quantize heavily but DC anchors the mean)
    px = make_test_pixels(24, 16, seed=8)
    dec = decode_jpeg(encode_jpeg(px, quality=90, extended=True))
    assert dec.shape == px.shape
    assert abs(float(dec.mean()) - float(px.mean())) < 16.0
    # extended composes with subsampling and restart markers
    img2 = np.kron(tiles, np.ones((16, 16), dtype=np.uint8))
    rgb2 = np.stack([img2, img2, img2], axis=-1)
    b2 = encode_jpeg(
        rgb2, quality=95, subsampling="420", extended=True,
        restart_interval=2,
    )
    assert np.array_equal(decode_jpeg(b2), rgb2)


def test_jpeg_progressive_restart_intervals():
    """DRI/RSTm inside SOF2 scans: every scan splits into restart
    segments (EOB runs and buffered correction bits flush at each
    boundary), decode equals the baseline decode for every interval,
    and a swapped marker pair trips the sequence check."""
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        jpeg_marker_summary,
        make_test_pixels,
    )

    px = make_test_pixels(24, 24, seed=9)  # 9 blocks -> 9 MCUs/scan
    base = decode_jpeg(encode_jpeg(px, quality=90))
    for ri in (1, 2, 4, 9, 100):
        b = encode_jpeg_progressive(px, quality=90, restart_interval=ri)
        prog, n_scans, n_rst = jpeg_marker_summary(b)[:3]
        assert prog and n_scans == 10
        assert n_rst == n_scans * (-(-9 // ri) - 1), ri
        assert np.array_equal(decode_jpeg(b), base), ri
    # grayscale path (4-scan script)
    g = make_test_pixels(17, 23, seed=3)[..., 0]
    gb = encode_jpeg_progressive(g, quality=85, restart_interval=3)
    assert np.array_equal(
        decode_jpeg(gb), decode_jpeg(encode_jpeg(g, quality=85))
    )
    # swapped RSTm pair inside a scan -> loud desync
    b = bytearray(encode_jpeg_progressive(px, quality=90, restart_interval=2))
    pos = [k for k in range(len(b) - 1)
           if b[k] == 0xFF and 0xD0 <= b[k + 1] <= 0xD7]
    assert len(pos) >= 2
    b[pos[0] + 1], b[pos[1] + 1] = b[pos[1] + 1], b[pos[0] + 1]
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(b))


def test_g711_expansion_reference_values_and_wav_path():
    """Spot-check canonical G.711 mappings (CCITT tables) and the
    format-6/7 WAV container path end to end."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        alaw_expand,
        decode_wav,
        encode_wav_g711,
        ulaw_expand,
    )

    # mu-law: 0x00 -> -32124 (largest negative), 0xFF -> 0, 0x80 -> +32124
    assert ulaw_expand(np.array([0x00, 0xFF, 0x80])).tolist() == [
        -32124, 0, 32124,
    ]
    # A-law: 0x55 -> -8 (smallest magnitude), 0xD5 -> +8, 0x2A -> -32256,
    # 0xAA -> +32256 (sign bit SET means positive)
    assert alaw_expand(np.array([0x55, 0xD5, 0x2A, 0xAA])).tolist() == [
        -8, 8, -32256, 32256,
    ]
    codes = np.arange(256, dtype=np.uint8)
    for law, expand in (("ulaw", ulaw_expand), ("alaw", alaw_expand)):
        samples, rate = decode_wav(encode_wav_g711(codes, law, 8000))
        assert rate == 8000 and samples.shape == (256, 1)
        assert np.array_equal(samples[:, 0], expand(codes).astype(np.int16))


def test_gif_roundtrip_overflow_reset_and_gates():
    """Lossless LZW round trip (incl. the 4096-dict CLEAR reset on a
    large frame), interlace/local-table gates, corrupt safety."""
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
        make_test_pixels,
    )

    px = np.asarray(make_test_pixels(37, 23, seed=6))
    b = encode_gif(px)
    assert np.array_equal(decode_gif(b), px)
    big = np.asarray(make_test_pixels(200, 150, seed=7))  # forces dict reset
    assert np.array_equal(decode_gif(encode_gif(big)), big)
    # truncated sub-blocks -> ValueError
    with pytest.raises(ValueError):
        decode_gif(b[: len(b) // 2])
    # >256 distinct colors refuse to encode (289 distinct (k//256, k%256, 0))
    k = np.arange(17 * 17, dtype=np.int64)
    many = np.stack([k // 256, k % 256, k * 0], axis=-1).reshape(17, 17, 3)
    with pytest.raises(ValueError):
        encode_gif(many.astype(np.uint8))


def test_ima_adpcm_multiblock_clamps_and_gate():
    """Multi-block streams concatenate with fresh per-block state;
    extreme codes ride the int16 clamp rails; stereo gates."""
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav_ima,
        ima_adpcm_decode,
        require_codec,
    )

    # clamp rails: repeated maximal-positive codes (7) from a high
    # start saturate at 32767; repeated 15s (sign bit) at -32768
    up = ima_adpcm_decode([7] * 60, 30000, 88)
    assert max(up) == 32767 and up[-1] == 32767
    down = ima_adpcm_decode([15] * 60, -30000, 88)
    assert min(down) == -32768 and down[-1] == -32768

    # container round trip: decoded samples equal the state machine
    codes = [(3 * t + 1) % 16 for t in range(100)]
    samples, rate = decode_wav(encode_wav_ima(codes, -123, 17, 8000))
    assert rate == 8000
    assert samples[:, 0].tolist() == ima_adpcm_decode(codes, -123, 17)

    # two blocks: second block restarts from its own header state
    one = encode_wav_ima(codes, -123, 17)
    import struct as _s
    fmt_at = one.index(b"fmt ") + 8
    ba = _s.unpack_from("<H", one, fmt_at + 12)[0]
    blk = one[one.index(b"data") + 8 :]
    two = bytearray(one)
    two[one.index(b"data") + 4 : one.index(b"data") + 8] = _s.pack("<I", 2 * len(blk))
    two += blk
    s2, _ = decode_wav(bytes(two))
    assert s2[:, 0].tolist() == 2 * ima_adpcm_decode(codes, -123, 17)

    # any channel count decodes for real now (Microsoft layout:
    # per-channel headers + groups cycling 0..ch-1); ch=0 is damage
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_wav_ima_multi,
    )

    for ch in (3, 4, 6):
        streams = [
            np.array([(k * 3 + c * 5) % 16 for k in range(24)], np.uint8)
            for c in range(ch)
        ]
        inits = [(((c * 97) % 2000) - 1000, (c * 13) % 89) for c in range(ch)]
        multi = encode_wav_ima_multi(streams, inits)
        dec, rate = decode_wav(multi)
        assert dec.shape == (25, ch) and rate == 8000
        for c in range(ch):
            assert dec[:, c].tolist() == ima_adpcm_decode(
                streams[c], inits[c][0], inits[c][1]
            ), (ch, c)
    hdr = bytearray(one)
    hdr[one.index(b"fmt ") + 8 + 2 : one.index(b"fmt ") + 8 + 4] = _s.pack("<H", 0)
    with pytest.raises(ValueError):
        decode_wav(bytes(hdr))


def test_png_palette_roundtrip_gates_and_limits():
    import numpy as np
    import pytest
    import struct as _struct

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png_palette,
        make_test_pixels,
    )

    px = np.asarray(make_test_pixels(19, 11, seed=4))
    b = encode_png_palette(px)
    assert np.array_equal(decode_png(b), px)
    # short tRNS chunk -> RGBA with entry-0 alpha set, rest default 255
    i = b.index(b"IDAT") - 4
    patched = b[:i] + _png_chunk(b"tRNS", b"\x80") + b[i:]
    rgba = decode_png(patched)
    assert rgba.shape == (11, 19, 4)
    assert np.array_equal(rgba[..., :3], px)
    pal_sorted = np.unique(
        px.reshape(-1, 3)[:, 0].astype(np.int64) * 65536
        + px.reshape(-1, 3)[:, 1].astype(np.int64) * 256
        + px.reshape(-1, 3)[:, 2].astype(np.int64)
    )
    entry0 = pal_sorted[0]
    is_entry0 = (
        px[..., 0].astype(np.int64) * 65536
        + px[..., 1].astype(np.int64) * 256
        + px[..., 2].astype(np.int64)
    ) == entry0
    assert np.array_equal(
        rgba[..., 3], np.where(is_entry0, 0x80, 255).astype(np.uint8)
    )
    # tRNS longer than the palette -> ValueError
    overlong = b[:i] + _png_chunk(b"tRNS", b"\x80" * 300) + b[i:]
    with pytest.raises(ValueError):
        decode_png(overlong)
    # >256 colors refuse to encode
    k = np.arange(17 * 17, dtype=np.int64)
    many = np.stack([k // 256, k % 256, k * 0], axis=-1).reshape(17, 17, 3)
    with pytest.raises(ValueError):
        encode_png_palette(many.astype(np.uint8))
    # index past PLTE -> ValueError: shrink the PLTE of a valid file
    j = b.index(b"PLTE") - 4
    (ln,) = _struct.unpack_from(">I", b, j)
    short = b[:j] + _png_chunk(b"PLTE", b"\x00\x00\x00") + b[j + 12 + ln :]
    with pytest.raises(ValueError):
        decode_png(short)


def test_png_adam7_roundtrip_both_color_types():
    """Adam7: every pass unfilters at its own width and scatters to
    the pass grid; tiny/odd sizes produce ragged and empty passes."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png,
        encode_png_palette,
        make_test_pixels,
    )

    for w, h in [(16, 16), (23, 17), (1, 1), (7, 3), (2, 2), (9, 40)]:
        px = np.asarray(make_test_pixels(w, h, seed=w + h))
        assert np.array_equal(decode_png(encode_png(px, interlace=True)), px)
        assert np.array_equal(
            decode_png(encode_png_palette(px, interlace=True)), px
        )
    # interlace flag survives header parse: the emitted IHDR says 1
    b = encode_png(np.asarray(make_test_pixels(5, 5, seed=1)), interlace=True)
    assert b[28] == 1  # IHDR interlace byte


def test_png16_roundtrip_and_depth_gate_semantics():
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png16,
        make_test_pixels16,
    )

    a = make_test_pixels16(13, 9, seed=4)
    d = decode_png(encode_png16(a))
    assert d.dtype == np.uint16 and np.array_equal(d, a)
    assert int(a.max()) > 255  # the corpus really uses high depth
    # 16-bit palette (depth 16, color 3) is illegal per spec table
    # 11.1: a doctored header must raise ValueError (the PNG surface
    # is closed, so out-of-table headers are corrupt data, not gates)
    b = bytearray(encode_png16(a))
    b[25] = 3  # IHDR color-type byte
    # re-CRC the IHDR chunk so the header check (not the CRC) fires
    import struct as _s
    import zlib as _z
    ihdr = bytes(b[12:16]) + bytes(b[16:29])
    b[29:33] = _s.pack(">I", _z.crc32(ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError):
        decode_png(bytes(b))


def test_png16_family_gray_graya_rgba_roundtrip():
    """Round-8 high-depth family completion: 16-bit grayscale (plain
    and color-keyed), gray+alpha, and RGBA all decode with exact
    uint16 samples; strides 2/4/8 exercise the byte-level filters."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png16_gray,
        encode_png16_graya,
        encode_png16_rgba,
        make_test_pixels16,
    )

    px = make_test_pixels16(14, 10, seed=8)
    g = px[..., 0]
    d = decode_png(encode_png16_gray(g))
    assert d.dtype == np.uint16 and np.array_equal(d, np.stack([g, g, g], -1))
    dk = decode_png(encode_png16_gray(g, trns_key=int(g[0, 0])))
    assert dk.shape == (10, 14, 4)
    assert int((dk[..., 3] == 0).sum()) == 1 and dk[0, 0, 3] == 0
    # a key off by one in the LOW byte must not match
    doff = decode_png(encode_png16_gray(g, trns_key=int(g[0, 0]) ^ 1))
    assert int((doff[..., 3] == 0).sum()) == 0
    a = ((g.astype(np.int64) + 12345) % 65536).astype(np.uint16)
    ga = decode_png(encode_png16_graya(g, a))
    assert np.array_equal(ga[..., 0], g) and np.array_equal(ga[..., 3], a)
    a2 = ((g.astype(np.int64) + 23456) % 65536).astype(np.uint16)
    r4 = np.concatenate([px, a2[..., None]], axis=-1)
    assert np.array_equal(decode_png(encode_png16_rgba(r4)), r4)


def test_png_trns_truecolor_and_palette_rgba():
    """tRNS transparency (both 8-bit layouts): truecolor key compare,
    per-palette-entry alpha, and the 16-bit gate staying honest."""
    import numpy as np
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
        encode_png,
        encode_png16,
        encode_png_palette,
        make_test_pixels,
        make_test_pixels16,
    )

    px = np.asarray(make_test_pixels(21, 17, seed=9))
    key = (9, 94, 179)  # the gradient's (0, 0) color at seed 9
    rgba = decode_png(encode_png(px, trns_key=key))
    assert rgba.shape == (17, 21, 4)
    assert np.array_equal(rgba[..., :3], px)
    exp = np.where(px[..., 0] == 9, 0, 255).astype(np.uint8)
    assert np.array_equal(rgba[..., 3], exp)
    assert int((rgba[..., 3] == 0).sum()) >= 1  # the key really occurs
    # palette alpha from a per-entry rule on the red channel
    rgba2 = decode_png(
        encode_png_palette(px, trns_fn=lambda pal: (pal[:, 0] * 3 + 7) % 256)
    )
    assert rgba2.shape == (17, 21, 4)
    assert np.array_equal(rgba2[..., :3], px)
    assert np.array_equal(
        rgba2[..., 3],
        ((px[..., 0].astype(np.int64) * 3 + 7) % 256).astype(np.uint8),
    )
    # malformed truecolor tRNS (wrong length) -> ValueError
    b = encode_png(px)
    i = b.index(b"IDAT") - 4
    with pytest.raises(ValueError):
        decode_png(b[:i] + _png_chunk(b"tRNS", b"\x00\x01") + b[i:])
    # 16-bit color key (round-8 gate retirement): compares at full
    # sample depth, alpha spans the 16-bit range
    px16 = make_test_pixels16(7, 5, seed=1)
    key16 = tuple(int(v) for v in px16[0, 0])
    rgba16 = decode_png(encode_png16(px16, trns_key=key16))
    assert rgba16.shape == (5, 7, 4) and rgba16.dtype == np.uint16
    assert np.array_equal(rgba16[..., :3], px16)
    exp16 = np.where((px16 == np.array(key16)).all(axis=-1), 0, 65535)
    assert np.array_equal(rgba16[..., 3], exp16.astype(np.uint16))
    assert int((rgba16[..., 3] == 0).sum()) == 1  # key occurs at origin
    # a key differing only in the LOW byte must NOT match (the 8-bit
    # truncation bug a low-depth compare would hide)
    off_key = (key16[0] ^ 1, key16[1], key16[2])
    rgba_off = decode_png(encode_png16(px16, trns_key=off_key))
    assert int((rgba_off[..., 3] == 0).sum()) == 0
    # malformed 16-bit tRNS (wrong length) -> ValueError
    b16 = encode_png16(px16)
    j = b16.index(b"IDAT") - 4
    with pytest.raises(ValueError):
        decode_png(b16[:j] + _png_chunk(b"tRNS", b"\x00\x01") + b16[j:])


def test_gif_interlace_and_local_color_table():
    """All four GIF container layouts round-trip losslessly; the
    interlaced stream really stores rows in pass order (its raster
    differs from the plain encoding's), and the LCT variant carries
    no global table."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _gif_interlace_order,
        decode_gif,
        encode_gif,
        make_test_pixels,
    )

    for w, h in [(19, 15), (23, 27), (5, 1), (8, 9), (33, 16)]:
        px = np.asarray(make_test_pixels(w, h, seed=w * h))
        for il in (False, True):
            for lt in (False, True):
                b = encode_gif(px, interlace=il, local_table=lt)
                assert np.array_equal(decode_gif(b), px), (w, h, il, lt)
    px = np.asarray(make_test_pixels(19, 15, seed=3))
    plain, inter = encode_gif(px), encode_gif(px, interlace=True)
    assert plain != inter  # pass-order raster really differs
    lct = encode_gif(px, local_table=True)
    assert lct[10] & 0x80 == 0  # no global color table flag
    # interlace order is a permutation covering every row exactly once
    for h in (1, 2, 7, 8, 9, 15, 64):
        assert sorted(_gif_interlace_order(h)) == list(range(h))


def test_image_alpha_and_color_stats_kernels(spark):
    """The q178/q180 kernels: alpha stats fall back to opaque for
    3-channel images; color stats carry the position-sensitive
    row-weighted checksum that catches interlace scrambles."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        image_alpha_stats,
        image_color_stats,
        synthetic_gif_variants_table,
        synthetic_media_table,
        synthetic_png_trns_table,
    )

    trns = synthetic_png_trns_table(spark, n=6)
    rows = {r["media_id"]: r for r in image_alpha_stats(trns).collect()}
    for i in rows:
        w, h = 17 + (i % 6) * 4, 13 + (i % 5) * 4
        seed = i * 11 + 5
        y, x = np.mgrid[0:h, 0:w]
        r = (x + y + seed) % 256
        if i % 2 == 0:
            a = (r * 3 + 7) % 256
        else:
            a = np.where(r == seed % 256, 0, 255)
        assert rows[i]["n_px"] == w * h
        assert rows[i]["sum_a"] == int(a.sum())
        assert rows[i]["n_transp"] == int((a == 0).sum())
    # opaque fallback: BMP/PPM (3-channel) -> alpha 255 everywhere
    opaque = synthetic_media_table(spark, n=4, real=True)
    for r in image_alpha_stats(opaque).collect():
        assert r["sum_a"] == r["n_px"] * 255 and r["n_transp"] == 0
    # color stats: all four GIF variants agree with the closed form
    gifs = synthetic_gif_variants_table(spark, n=8)
    for r in image_color_stats(gifs).collect():
        i = r["media_id"]
        w, h = 19 + (i % 6) * 4, 15 + (i % 4) * 4
        y, x = np.mgrid[0:h, 0:w]
        red = (x + y + i * 7 + 4) % 256
        assert r["n_colors"] == len(np.unique(red))
        assert r["row_weighted_r"] == int((y * red).sum())


def test_png_gray_family_roundtrips():
    """Grayscale 1/2/4/8-bit (incl. sample-depth tRNS key), gray+alpha,
    RGBA, and sub-byte palette layouts all round-trip; sub-byte rows
    exercise the bit-pack/unpack and padding-bit paths."""
    import numpy as np

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_png,
        encode_png_gray,
        encode_png_graya,
        encode_png_palette_subbyte,
        encode_png_rgba,
    )

    rng = np.random.RandomState(7)
    for w, h in [(18, 12), (7, 5), (1, 1), (33, 9)]:
        for d in (1, 2, 4, 8):
            g = rng.randint(0, 1 << d, size=(h, w)).astype(np.uint8)
            out = decode_png(encode_png_gray(g, depth=d))
            scale = {8: 1, 4: 17, 2: 85, 1: 255}[d]
            exp = (g.astype(np.int64) * scale).astype(np.uint8)
            assert out.shape == (h, w, 3)
            assert (out == exp[..., None]).all(), (w, h, d)
        # grayscale transparent key at 8-bit and sub-byte depth
        g = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        out = decode_png(encode_png_gray(g, trns_key=int(g[0, 0])))
        assert (out[..., 3] == np.where(g == g[0, 0], 0, 255)).all()
        g4 = rng.randint(0, 16, size=(h, w)).astype(np.uint8)
        out = decode_png(encode_png_gray(g4, depth=4, trns_key=int(g4[0, 0])))
        assert (out[..., 0] == g4 * 17).all()
        assert (out[..., 3] == np.where(g4 == g4[0, 0], 0, 255)).all()
        # gray + alpha, RGBA
        a = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        out = decode_png(encode_png_graya(g, a))
        assert (out[..., 0] == g).all() and (out[..., 3] == a).all()
        px = rng.randint(0, 256, size=(h, w, 4)).astype(np.uint8)
        assert (decode_png(encode_png_rgba(px)) == px).all()
        # sub-byte palette
        for d in (1, 2, 4):
            ncol = 1 << d
            pal = np.stack(
                [np.arange(ncol) * 15 % 256,
                 np.arange(ncol) * 31 % 256,
                 np.arange(ncol) * 7 % 256],
                axis=-1,
            ).astype(np.uint8)
            px3 = pal[rng.randint(0, ncol, size=(h, w))]
            assert (
                decode_png(encode_png_palette_subbyte(px3, depth=d)) == px3
            ).all(), (w, h, d)


def test_ima_stereo_roundtrip_and_channel_independence():
    """Stereo IMA ADPCM: interleaved 4-byte groups decode to the same
    per-channel streams the mono decoder produces, channels stay
    independent, and >2 channels still gate."""
    import numpy as np
    import pytest
    import struct as _s

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav_ima_stereo,
        ima_adpcm_decode,
        require_codec,  # noqa: F401 (documents the gate under test)
    )

    t = np.arange(96, dtype=np.int64)
    nl = ((t * 5 + 3) % 16).astype(np.uint8)
    nr = ((t * 7 + 9) % 16).astype(np.uint8)
    b = encode_wav_ima_stereo(nl, nr, (100, 10), (-200, 40))
    s, rate = decode_wav(b)
    assert s.shape == (97, 2) and rate == 8000
    assert (s[:, 0] == np.array(ima_adpcm_decode(nl, 100, 10), np.int16)).all()
    assert (s[:, 1] == np.array(ima_adpcm_decode(nr, -200, 40), np.int16)).all()
    # channel swap in the header must change the output (not symmetric)
    swapped = encode_wav_ima_stereo(nr, nl, (-200, 40), (100, 10))
    s2, _ = decode_wav(swapped)
    assert (s2[:, 0] == s[:, 1]).all() and (s2[:, 1] == s[:, 0]).all()
    # forging 3 channels onto a stereo-layout stream no longer gates
    # (any channel count decodes for real); re-framing these bytes as
    # a third channel header reads a step index > 88 -> loud damage
    bad = bytearray(b)
    (ch_off,) = [i for i in range(len(b)) if b[i:i+4] == b"fmt "]
    bad[ch_off + 10] = 3
    with pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(bad))
    # bad step index -> ValueError
    bad2 = bytearray(b)
    (d_off,) = [i for i in range(len(b)) if b[i:i+4] == b"data"]
    bad2[d_off + 8 + 2] = 90
    with pytest.raises(ValueError):
        decode_wav(bytes(bad2))


def test_crossformat_dhash_dedup_finds_groups_bytes_cannot(spark):
    """Each duplicate group's three containers (BMP/PNG/GIF) converge
    to one dHash; exact byte hashing sees zero duplicates on the same
    corpus. Singletons stay singletons."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        image_dhash,
        synthetic_crossformat_dup_table,
    )

    media = synthetic_crossformat_dup_table(spark, n_groups=8)
    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(media).collect()}
    for j in range(8):
        assert hashes[j * 4] == hashes[j * 4 + 1] == hashes[j * 4 + 2], j
    # byte-level hashing finds NO duplicates on the same corpus
    byte_groups = (
        media.groupBy(F.md5(F.col("content").cast("binary")).alias("h"))
        .count()
        .filter(F.col("count") >= 2)
        .count()
    )
    assert byte_groups == 0
    # perceptual groups of >= 2 are exactly the 8 planted triplets
    # (unless two groups' closed forms collide, which the fixed seeds
    # below do not)
    from collections import Counter

    c = Counter(hashes.values())
    assert sorted(v for v in c.values() if v >= 2) == [3] * 8


def test_ppm16_roundtrip_dtype_and_dispatch():
    """maxval>255 PPM round-trips with 2-byte big-endian samples
    (netpbm spec) and full 16-bit range; 8-bit PPM keeps uint8."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_any,
        encode_ppm16,
    )

    y, x = np.mgrid[0:11, 0:15]
    base = (x * 257 + y * 509 + 5 * 1021) % 65536
    px = np.stack(
        [base, (base + 21845) % 65536, (base + 43690) % 65536], -1
    ).astype(np.uint16)
    dec = decode_ppm(encode_ppm16(px))
    assert dec.dtype == np.uint16 and (dec == px).all()
    assert int(dec.max()) > 255  # full-range samples really arrive
    got, fmt = _decode_any(encode_ppm16(px))
    assert fmt == "ppm" and (got == px).all()
    # 8-bit path unchanged
    assert decode_ppm(encode_ppm(make_test_pixels(9, 7))).dtype == np.uint8
    # maxval outside the spec's 1..65535 is structural damage
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n70000\n" + b"\x00" * 24)


def test_jpeg_restart_interval_roundtrip_and_desync():
    """DRI/RSTm: block-constant gray corpora decode bit-exact for
    every interval; marker sequence numbers are checked; streams
    truncated at a restart boundary fail loudly."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        jpeg_tile_value,
    )

    w, h = 48, 32  # 24 MCUs at 4:4:4
    tiles = np.array(
        [[jpeg_tile_value(9, by, bx) for bx in range(w // 8)]
         for by in range(h // 8)],
        dtype=np.uint8,
    )
    rgb = np.stack([np.kron(tiles, np.ones((8, 8), np.uint8))] * 3, -1)
    plain = encode_jpeg(rgb, quality=90)
    for ri in (1, 2, 3, 5, 7, 23, 24, 100):
        b = encode_jpeg(rgb, quality=90, restart_interval=ri)
        assert (decode_jpeg(b) == rgb).all(), ri
        sos = b.index(b"\xff\xda")
        n_rst = sum(
            1
            for k in range(sos, len(b) - 1)
            if b[k] == 0xFF and 0xD0 <= b[k + 1] <= 0xD7
        )
        assert n_rst == -(-24 // ri) - 1, (ri, n_rst)
    # interval >= MCU count emits DRI but no markers and still decodes
    assert b"\xff\xdd" in encode_jpeg(rgb, quality=90, restart_interval=100)
    assert b"\xff\xdd" not in plain
    # 4:2:0 with restarts: 16x16 MCUs, constant 8x8 gray tiles stay exact
    b420 = encode_jpeg(rgb, quality=90, subsampling="420", restart_interval=2)
    assert (decode_jpeg(b420) == rgb).all()
    # swapping two RST markers breaks the sequence check
    b = bytearray(encode_jpeg(rgb, quality=90, restart_interval=4))
    sos = bytes(b).index(b"\xff\xda")
    pos = [k for k in range(sos, len(b) - 1)
           if b[k] == 0xFF and 0xD0 <= b[k + 1] <= 0xD7]
    b[pos[0] + 1], b[pos[1] + 1] = b[pos[1] + 1], b[pos[0] + 1]
    with pytest.raises(ValueError, match="restart"):
        decode_jpeg(bytes(b))


def test_gif_animation_rendering():
    """Multi-frame GIF: rendered canvases honor the GCE disposal
    methods (1 accumulate, 2 restore background, 3 restore previous
    — including OVERLAPPING frames), transparency punches through to
    whatever is beneath, GCE state applies to exactly one image, and
    single-frame files yield the same canvas as decode_gif."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
        encode_gif_animation,
    )

    def grad(w, h, s):
        y, x = np.mgrid[0:h, 0:w]
        r = (x + y + s) % 256
        return np.stack([r, (r + 85) % 256, (r + 170) % 256], -1).astype(
            np.uint8
        )

    bg = (9, 111, 222)
    f0, f1 = grad(7, 5, 3), grad(7, 5, 40)
    # disposal 1 accumulates; disposal 2 shows only its own frame
    b = encode_gif_animation(
        [(f0, (1, 2), 1, None), (f1, (9, 2), 1, None)], (20, 10), bg
    )
    fr = decode_gif_frames(b)
    assert len(fr) == 2
    exp = np.empty((10, 20, 3), np.uint8); exp[:] = bg
    exp[2:7, 1:8] = f0
    assert np.array_equal(fr[0], exp)
    exp[2:7, 9:16] = f1
    assert np.array_equal(fr[1], exp)
    b2 = encode_gif_animation(
        [(f0, (1, 2), 2, None), (f1, (9, 2), 2, None)], (20, 10), bg
    )
    fr2 = decode_gif_frames(b2)
    solo = np.empty((10, 20, 3), np.uint8); solo[:] = bg
    solo[2:7, 9:16] = f1
    assert np.array_equal(fr2[1], solo)
    # disposal 3 restores the pre-frame canvas under an OVERLAPPING
    # successor
    g0, g1 = grad(9, 7, 5), grad(5, 3, 60)
    b3 = encode_gif_animation(
        [(g0, (2, 2), 1, None), (g1, (4, 4), 3, None),
         (g1, (6, 5), 1, None)], (20, 12), bg,
    )
    fr3 = decode_gif_frames(b3)
    base = np.empty((12, 20, 3), np.uint8); base[:] = bg
    base[2:9, 2:11] = g0
    e2 = base.copy(); e2[5:8, 6:11] = g1
    assert np.array_equal(fr3[2], e2)  # frame 1's paint was undone
    # transparency: the marked color's pixels show what's BENEATH
    # (here frame g0, because the rects overlap)
    tr = tuple(int(v) for v in g1[0, 2])
    b4 = encode_gif_animation(
        [(g0, (2, 2), 1, None), (g1, (4, 4), 1, tr)], (20, 12), bg
    )
    fr4 = decode_gif_frames(b4)
    e4 = base.copy(); e4[4:7, 4:9] = g1
    for (y, x) in ((0, 2), (1, 1), (2, 0)):
        e4[4 + y, 4 + x] = base[4 + y, 4 + x]
    assert np.array_equal(fr4[1], e4)
    # single-frame compat: same canvas as decode_gif, one frame
    single = encode_gif(
        grad(9, 7, 8), screen=(15, 11), offset=(2, 1), background=bg
    )
    frs = decode_gif_frames(single)
    assert len(frs) == 1 and np.array_equal(frs[0], decode_gif(single))
    # corrupt: out-of-range disposal and truncated stream are loud
    bad = bytearray(b)
    gce_at = bytes(bad).index(b"\x21\xf9\x04")
    bad[gce_at + 3] = 0x7 << 2
    with pytest.raises(ValueError, match="disposal"):
        decode_gif_frames(bytes(bad))
    # EVERY truncation point either raises ValueError or returns the
    # complete-frame prefix — never struct.error (review finding:
    # descriptor-level cuts leaked it)
    for cut in range(4, len(b), 3):
        try:
            got = decode_gif_frames(b[:cut])
            assert 1 <= len(got) <= 2  # only whole frames survive
        except ValueError:
            pass
    # flipped screen dims must not materialize a multi-GB canvas —
    # on BOTH walkers (review finding: decode_gif lacked the guard)
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        make_test_pixels,
    )

    partial = encode_gif(
        np.asarray(make_test_pixels(5, 4, seed=1)),
        screen=(12, 9), offset=(2, 2), background=bg,
    )
    huge = bytearray(partial)
    huge[6:10] = st.pack("<HH", 60000, 60000)
    with pytest.raises(ValueError, match="implausibly large"):
        decode_gif(bytes(huge))
    huge2 = bytearray(b)
    huge2[6:10] = st.pack("<HH", 60000, 60000)
    with pytest.raises(ValueError):
        decode_gif_frames(bytes(huge2))


def test_gif_partial_frame_compositing():
    """Partial frames land at their descriptor offset on a
    background-color canvas (GIF89a section 18); interlace applies
    within the frame; bounds and background-table rules enforced."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    fr = np.asarray(make_test_pixels(9, 7, seed=4))
    for il, (ox, oy) in [(False, (5, 3)), (True, (0, 8)), (False, (11, 0))]:
        b = encode_gif(
            fr, interlace=il, screen=(20, 15), offset=(ox, oy),
            background=(10, 20, 30),
        )
        out = decode_gif(b)
        exp = np.empty((15, 20, 3), np.uint8)
        exp[:, :] = (10, 20, 30)
        exp[oy : oy + 7, ox : ox + 9] = fr
        assert np.array_equal(out, exp), (il, ox, oy)
    # background color may coincide with a frame color
    bg = tuple(int(v) for v in fr[0, 0])
    out = decode_gif(
        encode_gif(fr, screen=(12, 10), offset=(1, 1), background=bg)
    )
    assert np.array_equal(out[1:8, 1:10], fr) and tuple(out[0, 0]) == bg
    # frame exceeding the screen refuses to encode; a forged
    # descriptor refuses to decode
    with pytest.raises(ValueError):
        encode_gif(fr, screen=(8, 8))
    b = bytearray(encode_gif(fr, screen=(20, 15), offset=(5, 3)))
    import struct as _struct

    blk = bytes(b).index(b"\x2c")
    _struct.pack_into("<HH", b, blk + 1, 15, 12)  # ix=15 -> 15+9 > 20
    with pytest.raises(ValueError):
        decode_gif(bytes(b))
    # partial frame + local-table-only is rejected at encode time
    with pytest.raises(ValueError):
        encode_gif(fr, screen=(20, 15), local_table=True)


def test_jpeg_progressive_equals_baseline_decode():
    """Progressive (SOF2) is a lossless re-coding of the same
    quantized coefficients: decode(progressive(x)) must equal
    decode(baseline(x)) bit-for-bit on ANY image — this pins the
    whole scan machinery (DC successive approximation, spectral
    bands, Al cascade, AC refinement correction bits, EOBn runs,
    optimal per-scan Huffman tables) against the heavily-verified
    baseline path."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        jpeg_marker_summary,
    )

    for (w, h, q) in [(24, 16, 90), (33, 25, 85), (8, 8, 95),
                      (17, 9, 75), (64, 48, 50)]:
        px = make_test_pixels(w, h, seed=w + h)
        bb, bp = encode_jpeg(px, quality=q), encode_jpeg_progressive(
            px, quality=q
        )
        assert np.array_equal(decode_jpeg(bb), decode_jpeg(bp)), (w, h, q)
        assert jpeg_marker_summary(bp) == (True, 10, 0, 0xC2, False)
        assert jpeg_marker_summary(bb) == (False, 1, 0, 0xC0, False)
    # grayscale script has 4 scans
    g = np.asarray(make_test_pixels(31, 13, seed=1))[..., 0]
    bp = encode_jpeg_progressive(g, quality=80)
    assert np.array_equal(
        decode_jpeg(bp), decode_jpeg(encode_jpeg(g, quality=80))
    )
    assert jpeg_marker_summary(bp)[:2] == (True, 4)
    # smooth frame: EOBn runs > 1 on the wire, still exact
    flat = np.full((64, 64, 3), 128, np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_progressive(flat, quality=90)),
        decode_jpeg(encode_jpeg(flat, quality=90)),
    )
    # truncated progressive stream is structural damage
    with pytest.raises(ValueError):
        decode_jpeg(encode_jpeg_progressive(flat, quality=90)[:100])


def test_jpeg_progressive_zrl_in_refine_scan():
    """Deterministically force the hardest AC-refinement path: a
    coefficient significant from the first scan (its correction bits
    must ride the refine scans' bit buffer), a >16-zero-history gap,
    then a coefficient newly significant only at Al=0 — the encoder
    must emit ZRL inside the refine scan with buffered correction
    bits, and the decoder must replay it. Pixels are built by
    inverse-DCT of chosen quantized coefficients so re-quantization
    provably recovers the pattern (asserted), then the differential
    oracle pins encode+decode: progressive == baseline decode."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _JPG_ZIGZAG,
        _jpg_dct_mat,
        _jpg_quant_tables,
        _jpg_quantized_coefs,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    ql, _ = _jpg_quant_tables(90)
    dctm = _jpg_dct_mat()
    zz = np.array(_JPG_ZIGZAG)
    C = np.zeros(64)
    C[0], C[1], C[30] = 4, 48, 1
    nat = np.zeros((8, 8))
    nat.reshape(-1)[zz] = C
    blk = dctm.T @ (nat * ql) @ dctm + 128.0
    img = np.clip(np.round(blk), 0, 255).astype(np.uint8)
    # the pattern must survive re-quantization or the test is vacuous
    got = _jpg_quantized_coefs(
        img, *_jpg_quant_tables(90), "444", 8, "ycbcr"
    )[0][0][0, 0]
    nz = [k for k, v in enumerate(got) if v and k > 1]
    assert got[1] != 0 and abs(got[1]) >= 8
    assert nz and nz[0] >= 18 and abs(int(got[nz[0]])) == 1, nz
    for arr in (img, np.stack([img] * 3, -1)):
        assert np.array_equal(
            decode_jpeg(encode_jpeg(arr, quality=90)),
            decode_jpeg(encode_jpeg_progressive(arr, quality=90)),
        )


def test_jpeg_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2: any marker may be preceded by optional 0xFF
    fill bytes — real encoders pad with them. Injecting fill runs
    before every non-RST marker segment must not change the decode
    (baseline, restart-interval, and progressive walkers)."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        jpeg_marker_summary,
        make_test_pixels,
    )

    px = make_test_pixels(24, 16, seed=2)

    def pad_markers(b: bytes) -> bytes:
        # rebuild the stream inserting 0xFF fills before each
        # structural marker segment (walk segments; skip entropy)
        import struct as _struct

        out = bytearray(b[:2])
        pos = 2
        while pos + 1 < len(b):
            assert b[pos] == 0xFF
            marker = b[pos + 1]
            out += b"\xff\xff\xff"  # three fill bytes, then the marker
            if marker == 0xD9:
                out += b"\xff\xd9"
                break
            (ln,) = _struct.unpack_from(">H", b, pos + 2)
            out += b[pos : pos + 2 + ln]
            pos += 2 + ln
            if marker == 0xDA:  # copy entropy bytes verbatim
                start = pos
                while pos + 1 < len(b):
                    if (
                        b[pos] == 0xFF
                        and b[pos + 1] != 0x00
                        and not (0xD0 <= b[pos + 1] <= 0xD7)
                    ):
                        break
                    pos += 1
                out += b[start:pos]
        return bytes(out)

    for enc in (
        lambda a: encode_jpeg(a, quality=85),
        lambda a: encode_jpeg(a, quality=85, restart_interval=2),
        lambda a: encode_jpeg_progressive(a, quality=85),
    ):
        plain = enc(px)
        padded = pad_markers(plain)
        assert padded != plain
        assert np.array_equal(decode_jpeg(padded), decode_jpeg(plain))
    assert jpeg_marker_summary(pad_markers(encode_jpeg_progressive(px)))[
        :2
    ] == (True, 10)


def test_jpeg_progressive_bitflip_corruption_raises_valueerror_only():
    """Documented contract (module header + decode_jpeg): structural
    damage to a JPEG stream raises ValueError, never IndexError — the
    kernel-level catch in _decode_any depends on it, and direct
    callers of decode_jpeg get the documented type. Exhaustively flip
    every bit of every entropy-coded scan byte of a small progressive
    stream and assert each flip either still decodes or raises
    ValueError. Regression for the AC-refine overflow: a corrupted
    refine scan could previously run the zero-history pointer past
    the band end and hit blk[k] with k==64 (IndexError) or silently
    write into a later band."""
    import struct

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _decode_jpeg_progressive,
        _jpg_scan_end,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (16, 16)).astype(np.uint8)
    b = encode_jpeg_progressive(img, quality=50)

    scans = []
    pos = 2
    while pos + 3 < len(b):
        assert b[pos] == 0xFF
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        if marker == 0xDA:
            start = pos + 2 + ln
            end = _jpg_scan_end(b, start)
            scans.append((start, end))
            pos = end
        else:
            pos += 2 + ln
    assert len(scans) >= 4  # DC + AC-first + DC-refine + AC-refine

    seen = set()
    for start, end in scans:
        for i in range(start, end):
            for bit in range(8):
                bad = bytearray(b)
                bad[i] ^= 1 << bit
                try:
                    _decode_jpeg_progressive(bytes(bad))
                except ValueError as e:
                    seen.add(str(e))
                # any other exception type propagates -> test fails
    # the sweep must actually reach the AC-refine overflow guard
    assert "JPEG AC refine overflow" in seen, sorted(seen)


def test_gif_bitflip_corruption_valueerror_only_and_bounded():
    """Same corrupt-input contract as the progressive-JPEG sweep, for
    GIF (which has no CRC, so every flip reaches the decoder):
    exhaustively flip every bit of the stream and assert each flip
    either decodes or raises ValueError. Regression for the LZW
    minimum-code-size bound: a corrupted size byte (e.g. 8 -> 136)
    previously made the initial table build allocate 2^size entries —
    a multi-second stall or OOM per corrupt file, exactly what a
    100 TB scan over untrusted media cannot afford. The whole sweep
    (~8700 decodes) finishing inside the test budget IS the
    no-stall assertion."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
    b = encode_gif(img)
    seen = set()
    for i in range(len(b)):
        for bit in range(8):
            bad = bytearray(b)
            bad[i] ^= 1 << bit
            try:
                decode_gif(bytes(bad))
            except ValueError as e:
                seen.add(str(e))
                # any other exception type propagates -> test fails
    assert "GIF LZW minimum code size out of range" in seen, sorted(seen)


def test_all_codec_bitflip_sweeps_raise_only_documented_types():
    """Cross-codec corrupt-input contract (extends the JPEG/GIF
    sweeps): flipping any single bit of any supported stream either
    still decodes or raises ValueError — or NotImplementedError when
    the flip lands in a variant-selector field and hits the honest
    require_codec gate (a corrupt header is indistinguishable from a
    real gated variant). Nothing else: an IndexError / OverflowError /
    ZeroDivisionError / struct.error escaping a decoder either kills
    a 100 TB scan task outright or leaks the wrong type to direct
    callers. Round-7 regressions pinned here: JPEG DQT/DHT/SOF
    truncation (IndexError/struct.error), DC category overflow
    (OverflowError on the int64 coefficient plane), WAV zero-channel
    fmt (ZeroDivisionError), WAV fmt-chunk truncation (struct.error).
    """
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_bmp,
        decode_jpeg,
        decode_png,
        encode_jpeg12,
        encode_jpeg_lossless,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_jpeg,
        encode_png,
        encode_ppm,
        encode_wav,
        encode_aiff,
        encode_au,
        encode_flac,
        encode_tga,
        decode_tga,
        encode_tiff_float,
        decode_tiff_float,
        encode_pnm,
        decode_pnm,
        encode_ico,
        decode_ico,
        encode_pcx,
        decode_pcx,
        encode_wav_float32,
        encode_wav_float64,
        _MS_NIB_BIAS,
        encode_wav_g711,
        encode_wav_ima,
        encode_wav_ms_adpcm,
        encode_wav_pcm8,
        encode_wav_pcm24,
        encode_wav_pcm32,
        decode_flac,
        ogg_multiplex,
        ogg_skeleton_stream,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (12, 12, 3)).astype(np.uint8)
    img8 = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    samples = rng.randint(-2000, 2000, 200).astype(np.int16)
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_bmp8,
        encode_bmp32,
        encode_png16,
        encode_png16_gray,
        encode_png16_rgba,
        make_test_pixels16,
    )

    px16 = make_test_pixels16(6, 5, seed=2)
    pal8 = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    idx8 = rng.randint(0, 256, (9, 11)).astype(np.uint8)
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_bmp16_555,
        encode_bmp16_565,
        encode_bmp_a2r10g10b10,
        encode_bmp_embedded,
        encode_bmp_os2,
        encode_bmp_paletted,
        encode_png_gray,
        encode_png_palette_subbyte,
        encode_tiff,
    )
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_apng_frames,
        decode_gif_frames,
        decode_tiff,
        encode_apng,
        encode_gif_animation,
        encode_tiff_jpeg,
        encode_tiff_ycbcr,
    )

    pal16v = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx4 = rng.randint(0, 16, (9, 11)).astype(np.uint8)
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_bmp_cmyk,
    )

    cmyk4 = rng.randint(0, 256, (9, 7, 4)).astype(np.uint8)
    palc16 = rng.randint(0, 256, (16, 4)).astype(np.uint8)
    streams = [
        (encode_bmp(img), decode_bmp),
        (encode_bmp32(img), decode_bmp),
        (encode_bmp_cmyk(cmyk4), decode_bmp),
        (encode_bmp_paletted(idx4, palc16, bpp=4, rle=True, cmyk=True),
         decode_bmp),
        (encode_bmp16_555(img), decode_bmp),
        (encode_bmp16_565(img), decode_bmp),
        (encode_bmp8(idx8, pal8), decode_bmp),
        (encode_bmp8(idx8, pal8, rle=True), decode_bmp),
        (encode_bmp_paletted(idx4, pal16v, bpp=4), decode_bmp),
        (encode_bmp_paletted(idx4, pal16v, bpp=4, rle=True), decode_bmp),
        (encode_bmp_paletted((idx4 & 1), pal16v[:2], bpp=1), decode_bmp),
        (encode_ppm(img), decode_ppm),
        (encode_bmp_os2(img), decode_bmp),
        (encode_bmp_a2r10g10b10(img), decode_bmp),
        (encode_bmp_embedded(encode_png(img), img.shape[1],
                             img.shape[0], png=True), decode_bmp),
        (encode_bmp_embedded(encode_jpeg(img8, quality=50),
                             img8.shape[1], img8.shape[0], png=False),
         decode_bmp),
        (encode_tiff(img, compression="lzw", predictor=True,
                     rows_per_strip=5), decode_tiff),
        (encode_tiff(img, compression="packbits", big_endian=True),
         decode_tiff),
        (encode_tiff(img8, compression="deflate"), decode_tiff),
        (encode_tiff(px16[:6, :5], compression="lzw", predictor=True),
         decode_tiff),
        (encode_tiff(img, compression="deflate", tile=(16, 16)),
         decode_tiff),
        (encode_tiff(img, compression="none", planar=True,
                     rows_per_strip=4), decode_tiff),
        (encode_tiff((img8 >> 6), compression="lzw", depth=2),
         decode_tiff),
        (encode_tiff((img8 >> 7), compression="ccitt_mh", depth=1,
                     white_is_zero=True, rows_per_strip=3), decode_tiff),
        (encode_tiff((img8 >> 7), compression="g3_2d", depth=1,
                     white_is_zero=True), decode_tiff),
        (encode_tiff((img8 >> 7), compression="g4", depth=1,
                     white_is_zero=True), decode_tiff),
        (encode_tiff((img8 >> 7), compression="g4", depth=1,
                     white_is_zero=True, tile=(16, 16),
                     ccitt_uncompressed=True), decode_tiff),
        (encode_tiff((img8 >> 7), compression="g3_2d", depth=1,
                     white_is_zero=True, ccitt_uncompressed=True),
         decode_tiff),
        (encode_tiff_ycbcr(img8, (img8[::2, ::2] ^ 85),
                           (img8[::2, ::2] ^ 170), (2, 2),
                           compression="deflate", rows_per_strip=4),
         decode_tiff),
        (encode_tiff(img, compression="lzw", tile=(16, 16),
                     planar=True, predictor=True), decode_tiff),
        (encode_tiff(rng.randint(0, 16, (7, 9, 4)).astype(np.uint8),
                     compression="packbits", depth=4), decode_tiff),
        (encode_tiff_jpeg(img8, quality=80, rows_per_strip=8,
                          jpeg_tables=True), decode_tiff),
        (encode_tiff_jpeg(img8, quality=80, old_style=True),
         decode_tiff),
        # round 11: RGB-space / tiled / planar JPEG-in-TIFF and the
        # ReferenceBlackWhite headroom layout join the sweep
        (encode_tiff_jpeg(img, quality=80, rgb_space=True,
                          rows_per_strip=8), decode_tiff),
        (encode_tiff_jpeg(img, quality=80, rgb_space=True,
                          tile=(8, 8), jpeg_tables=True), decode_tiff),
        (encode_tiff_jpeg(img, quality=80, rgb_space=True,
                          planar=True, rows_per_strip=8), decode_tiff),
        (encode_tiff_jpeg(
            rng.randint(0, 256, (10, 11, 4)).astype(np.uint8),
            quality=80, rgb_space=True, rows_per_strip=8),
         decode_tiff),
        (encode_tiff_jpeg(
            rng.randint(0, 256, (10, 11, 4)).astype(np.uint8),
            quality=80, adobe_transform=2, rows_per_strip=8),
         decode_tiff),
        (encode_tiff_ycbcr(img8, (img8[::2, ::2] ^ 85),
                           (img8[::2, ::2] ^ 170), (2, 2),
                           rbw=[16, 1, 235, 1, 128, 1, 240, 1,
                                128, 1, 240, 1]),
         decode_tiff),
        # round 11: grouped Ogg (Skeleton + FLAC) joins the sweep
        (ogg_multiplex(
            ogg_skeleton_stream(),
            encode_flac(samples[:120].astype(np.int64), 16000,
                        bps=16, blocksize=64, ogg=True)),
         lambda s: decode_flac(s)),
        (encode_apng(
            [(np.concatenate(
                [img[:8, :10],
                 rng.randint(0, 256, (8, 10, 1)).astype(np.uint8)],
                axis=-1), (0, 0), 0, 0),
             (rng.randint(0, 256, (4, 5, 4)).astype(np.uint8),
              (2, 2), 1, 1)],
            (10, 8)), decode_apng_frames),
        (encode_tiff(rng.randint(0, 256, (8, 9, 4)).astype(np.uint8),
                     compression="packbits"), decode_tiff),
        (encode_gif_animation(
            [(img[:5, :6], (1, 1), 1, None),
             (img[:5, :6], (8, 1), 2,
              tuple(int(v) for v in img[0, 0]))],
            (16, 8), (3, 5, 7),
        ), decode_gif_frames),
        (encode_png(img), decode_png),
        (encode_png16(px16, trns_key=tuple(int(v) for v in px16[0, 0])),
         decode_png),
        (encode_png16_gray(px16[..., 0], trns_key=int(px16[0, 0, 0])),
         decode_png),
        (encode_png16_rgba(
            np.concatenate(
                [px16, (px16[..., :1].astype(np.int64) % 65536).astype(np.uint16)],
                axis=-1,
            )
        ), decode_png),
        (encode_jpeg(img8, quality=50), decode_jpeg),
        (encode_jpeg(img8, quality=50, extended=True), decode_jpeg),
        (encode_jpeg_lossless(img[:9, :8], predictor=4,
                              restart_rows=3), decode_jpeg),
        (encode_jpeg12((make_test_pixels16(16, 16, seed=3)[..., 0]
                        >> 4), quality=85, restart_interval=2),
         decode_jpeg),
        (encode_jpeg_lossless(
            (make_test_pixels16(8, 7, seed=5)[..., 0]), predictor=6,
            point_transform=2), decode_jpeg),
        (encode_jpeg(img, quality=50, subsampling="411"), decode_jpeg),
        (encode_jpeg(img, quality=50, subsampling="422"), decode_jpeg),
        (encode_wav(samples), decode_wav),
        (encode_png_gray(
            rng.randint(0, 16, (9, 13)).astype(np.uint8),
            depth=4, interlace=True,
        ), decode_png),
        (encode_png_palette_subbyte(
            pal16v[rng.randint(0, 4, (7, 11))], depth=2, interlace=True,
        ), decode_png),
        (encode_wav_pcm8(rng.randint(0, 256, 200).astype(np.uint8)), decode_wav),
        (encode_wav_pcm24(rng.randint(-(1 << 23), 1 << 23, 120).astype(np.int32)), decode_wav),
        (encode_wav_pcm24(rng.randint(-(1 << 23), 1 << 23, 120).astype(np.int32), extensible=True), decode_wav),
        (encode_wav_pcm32(rng.randint(-(1 << 31), 1 << 31, 120, dtype=np.int64).astype(np.int32)), decode_wav),
        (encode_wav_float32((rng.rand(120) * 2 - 1).astype(np.float32)), decode_wav),
        (encode_wav_float64(rng.rand(80) * 2 - 1), decode_wav),
        (encode_wav_g711(rng.randint(0, 256, 200).astype(np.uint8)), decode_wav),
        (encode_wav_ima(rng.randint(0, 16, 256).astype(np.uint8), 0, 0), decode_wav),
        (encode_wav_ms_adpcm(
            np.array(_MS_NIB_BIAS, np.uint8)[rng.randint(0, 16, 200)],
            3, 40, 150, -220), decode_wav),
        (encode_flac(
            np.stack([samples[:120], samples[80:200]], -1).astype(
                np.int64),
            16000, bps=16, blocksize=50), decode_wav),
        (encode_aiff(samples[:150].astype(np.int64), 22050), decode_wav),
        (encode_aiff(samples[:150].astype(np.int64), 22050, bits=24,
                     sowt=True), decode_wav),
        (encode_aiff(samples[:150].astype(np.int64), 22050,
                     ima4=True), decode_wav),
        (encode_flac(samples[:200].astype(np.int64), 16000, bps=16,
                     blocksize=64, ogg=True), decode_wav),
        (encode_aiff(rng.rand(120) * 2 - 1, 22050, ctype=b"fl32"),
         decode_wav),
        (encode_aiff(rng.randint(0, 256, 150).astype(np.uint8), 8000,
                     ctype=b"alaw"), decode_wav),
        (encode_au(rng.rand(100) * 2 - 1, 6, 16000), decode_wav),
        (encode_au(rng.randint(0, 256, 150).astype(np.uint8), 1, 8000),
         decode_wav),
        (encode_tga(img, rle=True), decode_tga),
        (encode_tga(img8, rle=False, top_down=False), decode_tga),
        (encode_tiff_float((img8 / 16.0), compression="deflate",
                           rows_per_strip=3), decode_tiff_float),
        (encode_tiff_float((img[:6, :7] / 8.0), compression="lzw",
                           predictor=True, tile=(16, 16), planar=True),
         decode_tiff_float),
        (encode_tiff_float((img8 / 4.0), compression="packbits",
                           predictor=True, f64=True, big_endian=True,
                           rows_per_strip=4), decode_tiff_float),
        (encode_pnm((img8 >> 7), "P4"), decode_pnm),
        (encode_pnm(img8, "P5", maxval=255), decode_pnm),
        (encode_pnm((img8 >> 4), "P2", maxval=15), decode_pnm),
        (encode_ico([
            (np.concatenate([img[:9, :8], rng.randint(
                0, 256, (9, 8, 1)).astype(np.uint8)], axis=-1), "bmp"),
            (np.concatenate([img[:5, :6], np.full(
                (5, 6, 1), 255, np.uint8)], axis=-1), "png")],
        ), decode_ico),
        (encode_pcx(img[:8, :9]), decode_pcx),
        (encode_pcx((img8 >> 4), palette=rng.randint(
            0, 256, (256, 3)).astype(np.uint8)), decode_pcx),
        (encode_pcx((img8 >> 4), ega_planes=4, palette16=rng.randint(
            0, 256, (16, 3)).astype(np.uint8)), decode_pcx),
        (encode_pcx((img8 >> 4), bpp4=True, palette16=rng.randint(
            0, 256, (16, 3)).astype(np.uint8)), decode_pcx),
        (encode_tga((img8[:6, :7] >> 2) + 32, rle=True, palette=rng.randint(
            0, 256, (96, 3)).astype(np.uint8), pal_bits=16,
            cm_first=32), decode_tga),
        (encode_tga(np.stack([img8[:5, :6]] * 2, -1), rle=True,
                    gray_alpha=True), decode_tga),
        (encode_ico([(np.concatenate(
            [img[:6, :7], np.full((6, 7, 1), 255, np.uint8)],
            axis=-1), "bmp16")]), decode_ico),
    ]
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_jpeg_progressive,
    )

    streams.append(
        (encode_jpeg_progressive(img8, quality=50, restart_interval=2),
         decode_jpeg)
    )
    streams.append(
        (encode_jpeg_progressive(img, quality=50, restart_interval=1,
                                 subsampling="420"), decode_jpeg)
    )
    for b, dec in streams:
        for i in range(len(b)):
            for bit in range(8):
                bad = bytearray(b)
                bad[i] ^= 1 << bit
                try:
                    dec(bytes(bad))
                except (ValueError, NotImplementedError):
                    pass
                # any other exception type propagates -> test fails


def test_video_frame_sampling_corrupt_containers_are_skipped(spark):
    """A corrupt VIDF container (flipped frame count, length prefix
    past the buffer, truncated tail) must drop that media item —
    never raise out of the task (round-7 regression: the kernel had
    no per-item containment, so one corrupt container failed the
    whole batch). Valid items in the same batch still sample."""
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        encode_video,
        sample_video_frames,
    )

    frames = [b"frame-a" * 3, b"frame-b" * 3, b"frame-c" * 3]
    good = encode_video(frames)
    big_count = bytearray(good)
    big_count[4:8] = st.pack("<I", 2**31)  # count field lies
    bad_len = bytearray(good)
    bad_len[8:12] = st.pack("<I", 2**30)  # first frame length lies
    truncated = good[:-3]
    df = spark.createDataFrame(
        [
            (1, bytes(good)),
            (2, bytes(big_count)),
            (3, bytes(bad_len)),
            (4, truncated),
            (5, b"VIDF"),  # header only
        ],
        "media_id long, content binary",
    )
    out = sample_video_frames(df, every_n=2).collect()
    assert {r["media_id"] for r in out} == {1}
    assert sorted(r["frame_no"] for r in out) == [0, 2]
    assert all(bytes(r["frame"]) == frames[r["frame_no"]] for r in out)


def test_tiff_jpeg_round11_layouts_and_headroom():
    """Round-11 JPEG-in-TIFF organizations: RGB-space (photometric
    2) strips/tiles/planar round-trip bit-exact on per-channel
    block-constant corpora and match decode_jpeg on arbitrary
    images; YCbCr ReferenceBlackWhite headroom applies the TIFF 6.0
    linear code map (video-range spot values pinned by hand)."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
        encode_tiff_ycbcr,
    )

    tiles = (np.arange(12).reshape(3, 4) * 21 + 5) % 256
    i64 = np.kron(tiles, np.ones((8, 8), np.int64))
    rgb = np.stack(
        [i64 % 256, (i64 + 85) % 256, (i64 + 170) % 256], -1
    ).astype(np.uint8)
    for kw in (
        dict(rows_per_strip=8),
        dict(rows_per_strip=8, jpeg_tables=True),
        dict(tile=(16, 8)),
        dict(tile=(16, 16), jpeg_tables=True),
        dict(planar=True, rows_per_strip=8),
        dict(planar=True, tile=(16, 16)),
    ):
        b = encode_tiff_jpeg(rgb, quality=90, rgb_space=True, **kw)
        assert np.array_equal(decode_tiff(b), rgb), kw
    # CMYK JPEG-in-TIFF (photometric 5): block-constant ink tiles
    # decode bit-exact through the naive conversion, all layouts
    ct = (np.arange(12).reshape(3, 4) * 41 + 9) % 256
    kt = (np.arange(12).reshape(3, 4) * 17 + 3) % 256
    ci = np.kron(ct, np.ones((8, 8), np.int64))
    ki = np.kron(kt, np.ones((8, 8), np.int64))
    cmyk = np.stack([ci, (ci + 85) % 256, (ci + 170) % 256, ki],
                    -1).astype(np.uint8)
    ink = cmyk.astype(np.int64)
    kk = 255 - ink[..., 3]
    want_c = np.stack(
        [((255 - ink[..., j]) * kk) // 255 for j in range(3)], -1
    ).astype(np.uint8)
    for kw in (dict(rows_per_strip=8), dict(tile=(16, 16)),
               dict(rows_per_strip=8, jpeg_tables=True)):
        b5 = encode_tiff_jpeg(cmyk, quality=90, rgb_space=True, **kw)
        assert np.array_equal(decode_tiff(b5), want_c), kw
    # tiled chunky YCbCr parity: tile decode == strip decode on the
    # same block-constant image (both bit-exact)
    g3 = np.stack([(i64 % 256).astype(np.uint8)] * 3, -1)
    assert np.array_equal(
        decode_tiff(encode_tiff_jpeg(g3, quality=90, tile=(16, 16))),
        g3,
    )
    # round 12: planar WITHOUT rgb_space is the photometric-6 planar
    # YCbCr layout (subsampled chroma planes) — no longer a gated
    # geometry; the gray raster is bit-exact through it
    assert np.array_equal(
        decode_tiff(encode_tiff_jpeg(g3, quality=90, planar=True)), g3
    )
    # headroom: video-range Y codes map (Y-16)*255/219; spot-check
    # neutral-chroma codes against the closed form
    yp = np.array([[16, 89, 162, 235], [16, 16, 235, 235]], np.uint8)
    neutral = np.full((1, 2), 128, np.uint8)
    out = decode_tiff(
        encode_tiff_ycbcr(
            yp, neutral, neutral, (2, 2),
            rbw=[16, 1, 235, 1, 128, 1, 240, 1, 128, 1, 240, 1],
        )
    )
    want = np.clip(
        np.floor((yp.astype(np.float64) - 16.0) * (255.0 / 219.0) + 0.5),
        0, 255,
    ).astype(np.uint8)
    assert np.array_equal(out, np.stack([want] * 3, -1))
    # exact-5x layout: integer-exact (codes*5), zero float residue
    yp2 = (np.arange(8, dtype=np.uint8).reshape(2, 4) * 7) % 52
    out2 = decode_tiff(
        encode_tiff_ycbcr(
            yp2, neutral, neutral, (2, 2),
            rbw=[0, 1, 51, 1, 128, 1, 255, 1, 128, 1, 255, 1],
        )
    )
    assert np.array_equal(out2, np.stack([yp2 * 5] * 3, -1))
    # degenerate ReferenceBlackWhite (white == black) is loud
    with pytest.raises(ValueError, match="ReferenceBlackWhite"):
        decode_tiff(
            encode_tiff_ycbcr(
                yp2, neutral, neutral, (2, 2),
                rbw=[16, 1, 16, 1, 128, 1, 240, 1, 128, 1, 240, 1],
            )
        )


def test_bmp_cmyk_printer_dibs():
    """BI_CMYK / BI_CMYKRLE8 / BI_CMYKRLE4 (round 11 — the last BMP
    registry gates): ink quads and CMYK palettes convert with the
    same naive uncalibrated map as TIFF photometric 5; layouts store
    byte-reversed K,Y,M,C like BGRX. Mismatched bpp pairings stay
    loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp_cmyk,
        encode_bmp_paletted,
    )

    rng = np.random.RandomState(23)

    def ref(ink):
        i6 = ink.astype(np.int64)
        kk = 255 - i6[..., 3]
        return np.stack(
            [((255 - i6[..., j]) * kk) // 255 for j in range(3)], -1
        ).astype(np.uint8)

    cmyk = rng.randint(0, 256, (10, 13, 4)).astype(np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp_cmyk(cmyk)), ref(cmyk))
    # pure-K gray ramp: R=G=B=255-K when C=M=Y=0
    ramp = np.zeros((1, 256, 4), np.uint8)
    ramp[..., 3] = np.arange(256, dtype=np.uint8)
    got = decode_bmp(encode_bmp_cmyk(ramp))
    assert np.array_equal(got[0, :, 0], 255 - np.arange(256, dtype=np.uint8).astype(np.int64))
    for bpp, n in ((8, 256), (4, 16)):
        palc = rng.randint(0, 256, (n, 4)).astype(np.uint8)
        idx = rng.randint(0, n, (7, 19)).astype(np.uint8)
        b = encode_bmp_paletted(idx, palc, bpp=bpp, rle=True, cmyk=True)
        assert np.array_equal(decode_bmp(b), ref(palc)[idx])
    # forged pairings: BI_CMYK demands 32bpp, the RLE codes 8/4
    import struct as st

    b = bytearray(encode_bmp_cmyk(cmyk))
    b[28:30] = st.pack("<H", 24)  # bpp 24 with comp 11
    with pytest.raises(ValueError, match="invalid BMP header"):
        decode_bmp(bytes(b))


def test_tiff_jpeg_gray_planar_tag_is_degenerate_legal():
    """PlanarConfiguration=2 with SamplesPerPixel=1 is spec-legal and
    identical to chunky (planar separation only means something at
    spp=3) — a gray JPEG-in-TIFF carrying the tag must decode, not
    trip the component-major strip accounting (round-11 self-review
    fix)."""
    import struct as st

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _tiff_ifd,
        decode_tiff,
        encode_jpeg,
    )

    tiles = (np.arange(6, dtype=np.int64).reshape(2, 3) * 40 + 9) % 256
    gray = np.kron(tiles, np.ones((8, 8), np.int64)).astype(np.uint8)
    h, w = gray.shape
    stream = encode_jpeg(gray, quality=90)
    body = stream + (b"\x00" if len(stream) % 2 else b"")
    ifd_off = 8 + len(body)
    tags = [
        (256, 3, [w]), (257, 3, [h]), (258, 3, [8]), (259, 3, [7]),
        (262, 3, [1]), (273, 4, [8]), (277, 3, [1]), (278, 3, [h]),
        (279, 4, [len(stream)]), (284, 3, [2]),
    ]
    buf = (
        b"II" + st.pack("<HI", 42, ifd_off) + body
        + _tiff_ifd("<", tags, ifd_off)
    )
    assert np.array_equal(decode_tiff(buf), np.stack([gray] * 3, -1))


def test_ogg_grouped_and_chained_streams():
    """Round 11: multiplexed (grouped) and chained Ogg files decode —
    pages demux by serial, the first FLAC-mapped stream wins, a
    Skeleton metadata track is skipped, later chain links are
    ignored; same-serial relinking and mid-chain structural damage
    stay loud."""
    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
        ogg_multiplex,
        ogg_skeleton_stream,
    )

    rng = np.random.RandomState(31)
    a = rng.randint(-30000, 30000, 5000).astype(np.int64)
    b2 = rng.randint(-2000, 2000, 3000).astype(np.int64)
    ogg_a = encode_flac(a, 16000, bps=16, blocksize=1024, ogg=True)
    # grouped with a Skeleton track, either BOS order
    for mux in (
        ogg_multiplex(ogg_skeleton_stream(), ogg_a),
        ogg_multiplex(ogg_a, ogg_skeleton_stream()),
    ):
        dec, rate, bits = decode_flac(mux)
        assert (rate, bits) == (16000, 16)
        assert np.array_equal(dec[:, 0], a)
    # chained: FIRST link decodes, second (distinct serial,
    # different rate/audio) is ignored
    ogg_b = encode_flac(b2, 8000, bps=16, blocksize=1024, ogg=True,
                        ogg_serial=0x0BADCAFE)
    dec, rate, bits = decode_flac(ogg_a + ogg_b)
    assert rate == 16000 and np.array_equal(dec[:, 0], a)
    # three-way grouping (two metadata-ish tracks) still demuxes
    sk2 = ogg_skeleton_stream(serial=0x0000BEEF)
    dec, rate, _ = decode_flac(
        ogg_multiplex(ogg_skeleton_stream(), sk2, ogg_a)
    )
    assert np.array_equal(dec[:, 0], a)
    # same-serial chain = duplicate BOS, loud
    with pytest.raises(ValueError, match="duplicate BOS"):
        decode_flac(ogg_a + ogg_a)
    # a page for an unknown serial without BOS is loud: strip the
    # skeleton's BOS page out of a grouped file
    mux = ogg_multiplex(ogg_skeleton_stream(), ogg_a)
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        _ogg_page_spans,
    )

    spans = _ogg_page_spans(mux)
    torn = mux[: spans[0][0]] + mux[spans[0][1] :]
    with pytest.raises(ValueError, match="without BOS"):
        decode_flac(torn)
    # skeleton-only file is not FLAC-mapped
    with pytest.raises(ValueError, match="not FLAC-mapped"):
        decode_flac(ogg_skeleton_stream())


def test_jpeg_adobe_app14_and_ycck():
    """Adobe APP14 (round 11): transform 0 ships untransformed
    components under numeric 1..N IDs (the real Adobe CMYK/RGB
    layout); transform 2 is YCCK — inverted CMY through the YCbCr
    matrix + K untouched — bit-exact on gray-ink (neutral-chroma)
    block-constant corpora; an UNMARKED numeric-ID 4-component scan
    still gates in auto mode but decodes raw under the container's
    'cmyk' contract."""
    import struct as st

    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_tiff,
        encode_jpeg,
        encode_tiff_jpeg,
    )

    tiles = (np.arange(12).reshape(3, 4) * 19 + 4) % 256
    g = np.kron(tiles, np.ones((8, 8), np.int64))
    kt = (np.arange(12).reshape(3, 4) * 7 + 2) % 256
    k = np.kron(kt, np.ones((8, 8), np.int64))
    gray_ink = np.stack([g, g, g, k], -1).astype(np.uint8)
    col_ink = np.stack([g, (g + 85) % 256, (g + 170) % 256, k],
                       -1).astype(np.uint8)
    # YCCK roundtrips (auto via APP14, and the container contract)
    b = encode_jpeg(gray_ink, quality=90, adobe_transform=2)
    assert np.array_equal(decode_jpeg(b), gray_ink)
    assert np.array_equal(decode_jpeg(b, color_space="cmyk"), gray_ink)
    # transform 0: numeric IDs, untransformed, 3- and 4-channel
    b0 = encode_jpeg(col_ink, quality=90, rgb_space=True,
                     adobe_transform=0)
    assert np.array_equal(decode_jpeg(b0), col_ink)
    rgb = col_ink[..., :3]
    b1 = encode_jpeg(rgb, quality=90, rgb_space=True, adobe_transform=0)
    assert np.array_equal(decode_jpeg(b1), rgb)
    # stripping APP14 re-raises the honest 4-component gate in auto,
    # while the container contract still decodes the raw planes
    bb = bytearray(b0)
    pos = bytes(bb).find(b"\xff\xee")
    (ln,) = st.unpack_from(">H", bb, pos + 2)
    del bb[pos : pos + 2 + ln]
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(bb))
    assert np.array_equal(
        decode_jpeg(bytes(bb), color_space="cmyk"), col_ink
    )
    # YCCK-in-TIFF (photometric 5): ink converts after the inverse
    ink = gray_ink.astype(np.int64)
    kk = 255 - ink[..., 3]
    want = np.stack(
        [((255 - ink[..., j]) * kk) // 255 for j in range(3)], -1
    ).astype(np.uint8)
    for kw in (dict(rows_per_strip=8), dict(tile=(16, 16))):
        t = encode_tiff_jpeg(gray_ink, quality=90, adobe_transform=2,
                             **kw)
        assert np.array_equal(decode_tiff(t), want), kw
    # bad transform value is loud at encode time
    with pytest.raises(ValueError, match="transform"):
        encode_jpeg(gray_ink, adobe_transform=1)


def test_tiff_jpeg_planar_ycbcr_and_cmyk_round12():
    """Round 12 — the last JPEG-in-TIFF organization gates retired:
    PLANAR YCbCr (photometric 6, PlanarConfiguration 2: full-size Y
    plane, chroma planes at the TIFF 6.0 §21 SUBSAMPLED dims,
    replication upsample + the exact full-range inverse) and PLANAR
    CMYK (four full-size ink planes through the shared naive
    conversion). Gray rasters are bit-exact at any subsampling;
    16x16-blocked TRUE COLOR is bit-exact at 2x2 (chroma planes stay
    8x8-blocked, DC-only); forged headers are loud; tiled planar
    YCbCr keeps its narrow honest gate."""
    import struct as st

    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
    )

    def gray_rgb(h, w, seed):
        t = (np.add.outer(np.arange(h) // 8, np.arange(w) // 8) * 37
             + seed) % 256
        g = np.kron(
            t.astype(np.uint8)[:: 1, :: 1][: h // 8 + 1, : w // 8 + 1],
            np.ones((8, 8), np.uint8),
        )[:h, :w]
        return np.stack([g] * 3, -1)

    # gray raster: every subsampling/strip/order/tables combo exact
    for (h, w) in [(16, 16), (32, 24), (13, 21)]:
        img = gray_rgb(h, w, 5)
        for ss in [(2, 2), (2, 1), (1, 1), (4, 2)]:
            for rps in (0, 16):
                if rps and (rps >= h or rps % (8 * ss[1])):
                    continue
                for be in (False, True):
                    b = encode_tiff_jpeg(
                        img, quality=90, planar=True, subsampling=ss,
                        rows_per_strip=rps, big_endian=be,
                        jpeg_tables=be,
                    )
                    assert np.array_equal(decode_tiff(b), img), (
                        h, w, ss, rps, be)

    # true color, 16x16 blocks, 2x2 subsampling: forward transform +
    # top-left sampling + replication inverse, all DC-only bit-exact
    blocks = np.array([[0, 1], [2, 3]], np.int64)
    cols = np.array(
        [[200, 30, 90], [10, 250, 128], [77, 77, 200], [255, 0, 0]],
        np.int64,
    )
    img = np.kron(
        np.stack([cols[blocks][..., c] for c in range(3)], -1),
        np.ones((16, 16, 1), np.int64),
    ).astype(np.uint8)
    b = encode_tiff_jpeg(img, quality=95, planar=True, subsampling=(2, 2))
    rf, gf, bf = [img[..., c].astype(np.float64) for c in range(3)]
    yp = np.clip(np.floor(0.299 * rf + 0.587 * gf + 0.114 * bf + 0.5), 0, 255)
    cbp = np.clip(np.floor(
        128.0 - 0.168735892 * rf - 0.331264108 * gf + 0.5 * bf + 0.5), 0, 255)
    crp = np.clip(np.floor(
        128.0 + 0.5 * rf - 0.418687589 * gf - 0.081312411 * bf + 0.5), 0, 255)
    rr = np.clip(np.floor(yp + 1.402 * (crp - 128) + 0.5), 0, 255)
    gg = np.clip(np.floor(
        yp - 0.344136286 * (cbp - 128) - 0.714136286 * (crp - 128) + 0.5),
        0, 255)
    bb = np.clip(np.floor(yp + 1.772 * (cbp - 128) + 0.5), 0, 255)
    want = np.stack([rr, gg, bb], -1).astype(np.uint8)
    assert np.array_equal(decode_tiff(b), want)

    # planar CMYK: gray-ink census form (C=M=Y=255-t, K=0 -> t) plus
    # independent per-plane constants, strips AND tiles
    t = np.kron(np.array([[10, 200], [90, 30]], np.int64),
                np.ones((8, 8), np.int64))
    ink = (255 - t).astype(np.uint8)
    cmyk = np.stack([ink, ink, ink, np.zeros_like(ink)], -1)
    for kw in ({"rows_per_strip": 8}, {"tile": (8, 8)},
               {"jpeg_tables": True, "big_endian": True}):
        b = encode_tiff_jpeg(cmyk, quality=90, planar=True, **kw)
        assert np.array_equal(
            decode_tiff(b), np.stack([t] * 3, -1).astype(np.uint8)), kw
    c4 = np.stack([t, (t + 85) % 256, (t + 170) % 256, (t * 3 + 7) % 256],
                  -1).astype(np.uint8)
    b = encode_tiff_jpeg(c4, quality=90, planar=True, rows_per_strip=8)
    i64 = c4.astype(np.int64)
    kk = 255 - i64[..., 3]
    want4 = np.stack(
        [((255 - i64[..., j]) * kk) // 255 for j in range(3)], -1
    ).astype(np.uint8)
    assert np.array_equal(decode_tiff(b), want4)

    # forged headers stay loud
    img = gray_rgb(32, 24, 3)
    b = encode_tiff_jpeg(img, quality=90, planar=True, subsampling=(2, 2),
                         rows_per_strip=16)

    def forge(buf, tag, vals):
        bb = bytearray(buf)
        ifd = int.from_bytes(bb[4:8], "little")
        n = int.from_bytes(bb[ifd : ifd + 2], "little")
        for k in range(n):
            at = ifd + 2 + 12 * k
            if int.from_bytes(bb[at : at + 2], "little") == tag:
                for j, v in enumerate(vals):
                    bb[at + 8 + 2 * j : at + 10 + 2 * j] = st.pack("<H", v)
        return bytes(bb)

    # forged subsampling -> expected chroma planes GROW past the
    # shipped segments -> loud (shrinking is tolerated, the padded-
    # segment convention shared with edge tiles)
    with pytest.raises(ValueError):
        decode_tiff(forge(b, 530, [1, 1]))
    # RowsPerStrip not a multiple of the vertical subsampling
    with pytest.raises(ValueError):
        decode_tiff(forge(b, 278, [15]))
    # round 12: TILED planar YCbCr decodes — per-plane tile grids
    # over the subsampled chroma dims (gray-in-RGB stays bit-exact
    # through the forward+inverse transform, every tile layout)
    for tl in ((16, 16), (16, 8), (8, 16)):
        bt = encode_tiff_jpeg(img, quality=90, planar=True,
                              subsampling=(2, 2), tile=tl)
        assert np.array_equal(decode_tiff(bt), img), tl
    # and a full-size-plane file whose photometric is FORGED to 6
    # now fails the per-plane tile-grid count check, loudly
    bt = encode_tiff_jpeg(img, quality=90, rgb_space=True, planar=True,
                          tile=(16, 16))
    with pytest.raises(ValueError, match="tile count"):
        decode_tiff(forge(bt, 262, [6]))


def test_tiff_jpeg_planar_bitflip_sweep_round12():
    """Bit-flip contract over the new planar walk: every single-bit
    corruption of a planar-YCbCr (multi-strip, subsampled, with
    JPEGTables) and a planar-CMYK file either decodes or raises
    ValueError/NotImplementedError."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
    )

    t = np.kron(np.array([[10, 200, 7], [90, 30, 255]], np.int64),
                np.ones((8, 8), np.int64))
    gray = np.stack([t] * 3, -1).astype(np.uint8)
    ink = (255 - t).astype(np.uint8)
    cmyk = np.stack([ink, ink, ink, np.zeros_like(ink)], -1)
    streams = [
        encode_tiff_jpeg(gray[:16], quality=90, planar=True,
                         subsampling=(2, 2), jpeg_tables=True),
        encode_tiff_jpeg(cmyk, quality=90, planar=True, rows_per_strip=8),
    ]
    for s in streams:
        assert decode_tiff(s) is not None  # baseline must decode
        data = bytearray(s)
        for byte_i in range(len(data)):
            for bit in (0x01, 0x80):
                data[byte_i] ^= bit
                try:
                    decode_tiff(bytes(data))
                except (ValueError, NotImplementedError):
                    pass
                data[byte_i] ^= bit


def test_tiff_ojpeg_per_strip_round12():
    """Round 12 — the OTHER old-style JPEG-in-TIFF layout retired:
    compression 6 WITHOUT JPEGInterchangeFormat, raw entropy strips +
    tables at JPEGQTables/DC/AC tag offsets, reconstructed per strip
    (the libtiff OJPEG synthesis). Roundtrips bit-exact on
    block-constant rasters (gray + chunky YCbCr 4:2:0/4:4:4, strips,
    restarts, both byte orders); forged headers are loud; the
    remaining JPEGProc/planar/tile gates hold."""
    import struct as st

    import pytest

    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
    )

    def gray(h, w, seed):
        t = (np.add.outer(np.arange(-(-h // 8)) * 9,
                          np.arange(-(-w // 8)) * 17) + seed * 41) % 256
        return np.kron(t, np.ones((8, 8), np.int64))[:h, :w].astype(
            np.uint8)

    for (h, w) in [(16, 24), (32, 40)]:
        g = gray(h, w, 5)
        for rps in (0, 8):
            for be in (False, True):
                b = encode_tiff_jpeg(g, quality=90, per_strip_tables=True,
                                     rows_per_strip=rps, big_endian=be)
                assert np.array_equal(
                    decode_tiff(b), np.stack([g] * 3, -1)), (h, w, rps, be)
        c = np.stack([g] * 3, -1)
        for sub in ("444", "420"):
            b = encode_tiff_jpeg(
                c, quality=90, per_strip_tables=True, subsampling=sub,
                rows_per_strip=16 if h > 16 else 0, restart_interval=2,
            )
            assert np.array_equal(decode_tiff(b), c), (h, w, sub)

    g = gray(32, 24, 2)
    b = encode_tiff_jpeg(g, quality=90, per_strip_tables=True,
                         rows_per_strip=8)

    def forge16(buf, tag, vals):
        bb = bytearray(buf)
        ifd = int.from_bytes(bb[4:8], "little")
        n = int.from_bytes(bb[ifd : ifd + 2], "little")
        for k in range(n):
            at = ifd + 2 + 12 * k
            if int.from_bytes(bb[at : at + 2], "little") == tag:
                for j, v in enumerate(vals):
                    bb[at + 8 + 2 * j : at + 10 + 2 * j] = st.pack("<H", v)
        return bytes(bb)

    def drop_tag(buf, tag):
        bb = bytearray(buf)
        ifd = int.from_bytes(bb[4:8], "little")
        n = int.from_bytes(bb[ifd : ifd + 2], "little")
        for k in range(n):
            at = ifd + 2 + 12 * k
            if int.from_bytes(bb[at : at + 2], "little") == tag:
                # overwrite with a harmless duplicate of tag 256
                bb[at : at + 12] = bb[ifd + 2 : ifd + 14]
        return bytes(bb)

    # JPEGProc outside {1 baseline, 14 lossless} gates (14 decodes
    # since round 13 — test_tiff_ojpeg_lossless_round13)
    with pytest.raises(NotImplementedError):
        decode_tiff(forge16(b, 512, [2]))
    # a BASELINE stream misdeclared as proc 14 is damage, and loud:
    # the lossless synthesis walks garbage entropy -> ValueError
    with pytest.raises((ValueError, NotImplementedError)):
        decode_tiff(forge16(b, 512, [14]))
    # no table tags AND no 513 -> the honest gate message
    with pytest.raises(NotImplementedError):
        decode_tiff(drop_tag(b, 519))
    # out-of-range table offset is loud (LONG offsets live at the
    # value slot; point the Q offsets past the buffer)
    bb = bytearray(b)
    ifd = int.from_bytes(bb[4:8], "little")
    n = int.from_bytes(bb[ifd : ifd + 2], "little")
    for k in range(n):
        at = ifd + 2 + 12 * k
        if int.from_bytes(bb[at : at + 2], "little") == 519:
            bb[at + 8 : at + 12] = st.pack("<I", len(b) - 2)
    with pytest.raises(ValueError):
        decode_tiff(bytes(bb))
    # rows-per-strip not MCU-aligned (multi-strip) is loud
    with pytest.raises(ValueError):
        decode_tiff(forge16(b, 278, [7]))


def test_tiff_ojpeg_per_strip_bitflip_sweep_round12():
    """Bit-flip contract over the per-strip synthesis walk: every
    single-bit corruption of a multi-strip gray and a YCbCr-4:2:0
    per-strip file either decodes or raises ValueError /
    NotImplementedError."""
    from e_commerce_data_pipeline_spark.operators.multimodal import (
        decode_tiff,
        encode_tiff_jpeg,
    )

    t = np.kron(np.array([[10, 200, 7], [90, 30, 255]], np.int64),
                np.ones((8, 8), np.int64))
    g = t.astype(np.uint8)
    streams = [
        encode_tiff_jpeg(g, quality=90, per_strip_tables=True,
                         rows_per_strip=8),
        encode_tiff_jpeg(np.stack([g] * 3, -1), quality=90,
                         per_strip_tables=True, subsampling="420",
                         restart_interval=1),
    ]
    for s in streams:
        assert decode_tiff(s) is not None
        data = bytearray(s)
        for byte_i in range(len(data)):
            for bit in (0x01, 0x80):
                data[byte_i] ^= bit
                try:
                    decode_tiff(bytes(data))
                except (ValueError, NotImplementedError):
                    pass
                data[byte_i] ^= bit
