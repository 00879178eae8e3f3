"""Multimodal columns (north-star): image/audio/video as opaque
``binary`` columns + typed metadata, processed via Arrow-batched
``mapInPandas``.

The decode kernels are REAL for formats decodable in pure
numpy+stdlib — BMP (24-bit uncompressed), PPM (binary P6, 8/16-bit),
PNG (the full legal surface: every depth/color combination of spec
table 11.1, alpha+tRNS, Adam7 interlace incl. sub-byte passes),
JPEG (baseline 4:4:4/4:2:0/gray, restart intervals, progressive
SOF2), GIF (LZW, interlace, local tables, partial-frame
compositing), and WAV PCM/G.711/IMA-ADPCM (any channel count) —
covering header parse, pixel decode, nearest-neighbor resize,
per-channel feature extraction, and frame sampling over a
length-prefixed frame container. Variants that genuinely need codec
libraries this container doesn't ship (arithmetic-coded JPEG, 12-bit
color, H.264) raise NotImplementedError explicitly
(``require_codec``) rather than pretending.

Batch shape: mapInPandas receives an iterator of Arrow record batches;
kernels stream batch-by-batch (never materialize the iterator) so peak
executor memory is one batch regardless of partition size — the
property that matters at 100 TB. Pixels live only inside the kernel;
what crosses back to the JVM is encoded bytes or scalar features.
Every one-row-per-item kernel runs through ``_map_media`` (one batch
loop, one null-row rule); synthetic corpora are built by
``_media_table``.
"""

from __future__ import annotations

import functools
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("content_length", LongType(), True),
        StructField("source_uri", StringType(), True),
    ]
)


def _map_media(df: DataFrame, ddl: str, fn) -> DataFrame:
    """The per-item kernel runner: one output row per input row.

    The last column of ``df`` is the payload; the columns before it
    are keys copied through unchanged, and ``ddl`` lists the keys then
    the kernel's outputs. ``fn(payload)`` runs only on a non-null
    payload and returns the tuple of output values, or None for an
    all-null row — an undecodable item becomes a null row, never a
    task failure (corrupt files must not kill a 100 TB scan)."""
    names = _ddl_names(ddl)
    blank = (None,) * (len(names) - len(df.columns) + 1)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one Arrow batch at a time — bounded memory
            out = []
            for *keys, payload in zip(*(pdf[c] for c in pdf.columns)):
                vals = None if payload is None else fn(payload)
                out.append((*keys, *(blank if vals is None else vals)))
            yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(kernel, ddl)


def _ddl_names(ddl: str) -> list[str]:
    """The column names of a flat ``"name type, ..."`` DDL string."""
    return [col.split()[0] for col in ddl.split(",")]


def _px_sums(p) -> tuple:
    """``(n_px, sum_r, sum_g, sum_b)`` of an int64 (h, w, c>=3) raster."""
    sums = (int(p[..., c].sum()) for c in range(3))
    return (int(p.shape[0] * p.shape[1]), *sums)


# Synthetic header-only layout kept for plumbing tests:
# b"FAKEIMG" + w(2) + h(2) + c(1). Carries no pixels.
_MAGIC = b"FAKEIMG"


def require_codec(fmt: str) -> None:
    """The honest gate for format variants outside this module's
    pure-numpy codecs: not implemented here, and no codec library
    (Pillow / libjpeg / ffmpeg) is present in this container to
    delegate to. Among the formats decoded natively: BMP, PPM
    (8/16-bit), PNG (complete — every legal depth/color/interlace
    combination), JPEG (baseline and 8/12-bit extended sequential
    with any integral-ratio sampling and restart intervals,
    progressive, lossless, arithmetic sequential and progressive,
    hierarchical), GIF (interlace, local tables, partial frames),
    TIFF, WAV PCM/G.711/IMA-ADPCM (any channel count). An illegal
    header is corrupt data and raises ValueError, not this gate."""
    raise NotImplementedError(
        f"decoding {fmt} is outside the pure-numpy codec surface and "
        "no codec library is present in this environment to delegate "
        "to"
    )


# ---------------------------------------------------------------------------
# Pure-numpy codecs (BMP 24-bit BI_RGB, binary PPM P6)
# ---------------------------------------------------------------------------


def _bmp_container(
    body: bytes, w: int, h: int, bpp: int, comp: int = 0,
    extra: bytes = b"", n_pal: int = 0,
) -> bytes:
    """14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER wrapper
    for an already-serialized pixel payload (round-16 fold of the
    eight hand-rolled emission sites). ``extra`` is whatever sits
    between header and pixels (palette quads, bitfield masks); the
    pixel offset and file size account for it. biSizeImage is
    len(body) — also what BI_JPEG/BI_PNG passthrough containers
    expect."""
    offset = 14 + 40 + len(extra)
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(body), 0, 0, offset
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, len(body), 2835, 2835,
        n_pal, 0,
    )
    return bytes(header) + extra + body


def encode_bmp(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 24-bit uncompressed BMP bytes."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "BMP encoder expects RGB"
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up rows, BGR order
        body += a[y, :, ::-1].tobytes() + b"\x00" * pad
    return _bmp_container(bytes(body), w, h, 24)


def encode_bmp32(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 32-bit BI_RGB BMP (BGRX quads, padding
    byte zero — the screenshot-tool layout)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "BMP32 encoder expects RGB"
    quads = np.zeros((h, w, 4), np.uint8)
    quads[..., :3] = a[..., ::-1]  # RGB -> BGR, X stays 0
    body = quads[::-1].tobytes()  # bottom-up rows, already word-aligned
    return _bmp_container(body, w, h, 32)


def encode_bmp_cmyk(cmyk) -> bytes:
    """(h, w, 4) uint8 C,M,Y,K ink quads -> BI_CMYK printer DIB
    (compression 11, 32 bits/pixel, gate retired round 11): pixels
    store bottom-up, byte-reversed K,Y,M,C — the BGRX convention
    applied to ink planes."""
    import numpy as np

    a = np.asarray(cmyk, np.uint8)
    assert a.ndim == 3 and a.shape[2] == 4
    h, w = a.shape[:2]
    body = np.ascontiguousarray(a[::-1, :, ::-1]).tobytes()
    return _bmp_container(body, w, h, 32, comp=11)


def encode_bmp8(idx, pal, rle: bool = False) -> bytes:
    """(h, w) uint8 palette indices + (n<=256, 3) uint8 RGB palette ->
    8-bit paletted BMP, uncompressed (BI_RGB) or BI_RLE8."""
    return encode_bmp_paletted(idx, pal, bpp=8, rle=rle)


def encode_bmp_paletted(idx, pal, bpp: int = 8, rle: bool = False,
                        cmyk: bool = False) -> bytes:
    """(h, w) palette indices (< 2^bpp) + (n, 3) uint8 RGB palette ->
    paletted BMP at bpp 1/4/8. Uncompressed rows pack samples
    MSB-first and pad to word boundaries; ``rle`` selects BI_RLE8
    (bpp 8) or BI_RLE4 (bpp 4) — runs >= 3 as encoded runs (RLE4
    duplicates the nibble), shorter stretches batched into absolute
    chunks, EOL/EOD escapes per spec. ``cmyk`` (round 11) takes an
    (n, 4) C,M,Y,K ink palette instead and emits the printer-DIB
    BI_CMYKRLE8/4 registry codes (requires ``rle``); entries store
    byte-reversed K,Y,M,C like the BGRX convention."""
    import numpy as np

    a = np.asarray(idx, dtype=np.uint8)
    p = np.asarray(pal, dtype=np.uint8)
    h, w = a.shape
    n_pal = p.shape[0]
    assert bpp in (1, 4, 8)
    assert not (rle and bpp == 1), "RLE needs bpp 4 or 8"
    assert p.ndim == 2 and n_pal <= (1 << bpp)
    assert int(a.max(initial=0)) < n_pal, "index exceeds palette"
    if cmyk:
        assert rle and p.shape[1] == 4, "BI_CMYKRLE: RLE + ink quads"
        quads = np.ascontiguousarray(p[:, ::-1])  # C,M,Y,K -> K,Y,M,C
    else:
        assert p.shape[1] == 3
        quads = np.zeros((n_pal, 4), np.uint8)
        quads[:, :3] = p[:, ::-1]  # RGB -> BGR, reserved byte 0
    if not rle:
        if bpp == 8:
            packed = a
        else:
            bits = np.unpackbits(a[:, :, None], axis=2)[:, :, 8 - bpp :]
            packed = np.packbits(bits.reshape(h, w * bpp), axis=1)
        row_bytes = packed.shape[1]
        stride = row_bytes + ((-row_bytes) % 4)
        rows = np.zeros((h, stride), np.uint8)
        rows[:, :row_bytes] = packed
        body = rows[::-1].tobytes()
        comp = 0
    else:
        nibble = bpp == 4
        out = bytearray()
        for row in a[::-1]:  # stored bottom-up
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 3:
                    v = int(row[x])
                    out += bytes((run, (v << 4) | v if nibble else v))
                    x += run
                    continue
                start = x
                while x < w and x - start < 254:
                    r2 = 1
                    while (
                        x + r2 < w and row[x + r2] == row[x] and r2 < 255
                    ):
                        r2 += 1
                    if r2 >= 3:
                        break
                    x += r2
                cnt = x - start
                if cnt >= 3:
                    out += bytes((0, cnt))
                    if nibble:
                        lit = row[start:x]
                        if cnt & 1:
                            lit = np.concatenate(
                                [lit, np.zeros(1, np.uint8)]
                            )
                        by = (lit[0::2] << 4) | lit[1::2]
                        out += by.astype(np.uint8).tobytes()
                        if by.size & 1:
                            out += b"\x00"
                    else:
                        out += row[start:x].tobytes()
                        if cnt & 1:
                            out += b"\x00"
                else:
                    for j in range(start, x):
                        v = int(row[j])
                        out += bytes((1, (v << 4) if nibble else v))
            out += b"\x00\x00"  # end of line
        out += b"\x00\x01"  # end of data
        body = bytes(out)
        comp = 2 if nibble else 1
    if cmyk:
        comp = 13 if comp == 2 else 12
    return _bmp_container(
        body, w, h, bpp, comp=comp, extra=quads.tobytes(), n_pal=n_pal
    )


def encode_bmp16_555(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 16-bit X1R5G5B5 BI_RGB BMP (channels
    quantized >> 3; the decoder's bit-replication expansion maps the
    quantized values back deterministically)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "BMP16 encoder expects RGB"
    five = (a >> 3).astype(np.uint16)
    u = (five[..., 0] << 10) | (five[..., 1] << 5) | five[..., 2]
    row = w * 2
    stride = row + ((-row) % 4)
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :row] = (
        np.ascontiguousarray(u.astype("<u2")).view(np.uint8).reshape(h, row)
    )
    return _bmp_container(rows[::-1].tobytes(), w, h, 16)


def encode_bmp16_565(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 16-bit R5G6B5 BI_BITFIELDS BMP (the
    most common 16-bit layout in the wild; masks 0xF800/0x07E0/
    0x001F follow the header)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "BMP565 encoder expects RGB"
    u = (
        ((a[..., 0] >> 3).astype(np.uint16) << 11)
        | ((a[..., 1] >> 2).astype(np.uint16) << 5)
        | (a[..., 2] >> 3).astype(np.uint16)
    )
    row = w * 2
    stride = row + ((-row) % 4)
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :row] = (
        np.ascontiguousarray(u.astype("<u2")).view(np.uint8).reshape(h, row)
    )
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    return _bmp_container(rows[::-1].tobytes(), w, h, 16, comp=3, extra=masks)


def encode_bmp_os2(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> OS/2 1.x BMP (12-byte
    BITMAPCOREHEADER, 24-bit, bottom-up, DWORD-aligned rows) — the
    pre-Windows-3 layout old tooling still emits."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "OS/2 BMP encoder expects RGB"
    row = w * 3
    stride = row + ((-row) % 4)
    rows = np.zeros((h, stride), np.uint8)
    rows[:, :row] = a[::-1, :, ::-1].reshape(h, row)
    body = rows.tobytes()
    offset = 14 + 12
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(body), 0, 0, offset
    ) + struct.pack("<IHHHH", 12, w, h, 1, 24)
    return bytes(header) + body


def encode_bmp_embedded(payload: bytes, w: int, h: int, png: bool) -> bytes:
    """Complete JPEG/PNG stream -> BI_JPEG / BI_PNG BMP container
    (BITMAPINFOHEADER with biBitCount=0 and biSizeImage = payload
    length, the printer-driver passthrough layout per MSDN)."""
    return _bmp_container(payload, w, h, 0, comp=5 if png else 4)


def encode_bmp_a2r10g10b10(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> 32-bit BI_ALPHABITFIELDS (WinCE comp=6)
    A2R10G10B10 BMP: 10-bit samples are v << 2, so the decoder's
    cyclic bit replication (top 8 of 10) returns the original 8-bit
    values exactly; the 2-bit alpha field rides full-scale and is
    validated + dropped on decode."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "A2R10G10B10 encoder expects RGB"
    a32 = a.astype(np.uint32)
    u = (
        (np.uint32(3) << 30)
        | (a32[..., 0] << 22)
        | (a32[..., 1] << 12)
        | (a32[..., 2] << 2)
    )
    body = np.ascontiguousarray(u[::-1].astype("<u4")).tobytes()
    masks = struct.pack(
        "<IIII", 0x3FF << 20, 0x3FF << 10, 0x3FF, 0x3 << 30
    )
    return _bmp_container(body, w, h, 32, comp=6, extra=masks)


def _decode_bmp_core(b: bytes, offset: int):
    """OS/2 BITMAPCOREHEADER decode: 16-bit unsigned dims, implicit
    BI_RGB, bottom-up only, palette entries are BGR TRIPLES (not the
    BITMAPINFOHEADER's quads). 1/4/8-bit paletted and 24-bit
    truecolor — the only depths the 12-byte header can express."""
    import numpy as np

    w, h, planes, bpp = struct.unpack_from("<HHHH", b, 18)
    if bpp not in (1, 4, 8, 24) or planes != 1:
        raise ValueError(f"invalid OS/2 BMP header (bpp={bpp})")
    if w == 0 or h == 0:
        raise ValueError("invalid BMP dimensions")
    if bpp == 24:
        row = w * 3
        stride = row + ((-row) % 4)
        px = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
        px = px.reshape(h, stride)[:, :row].reshape(h, w, 3)[:, :, ::-1]
        return px[::-1]
    n_pal = 1 << bpp
    pal_off = 14 + 12
    pal_bytes = b[pal_off : pal_off + 3 * n_pal]
    if len(pal_bytes) < 3 * n_pal:
        raise ValueError("BMP palette truncated")
    pal = np.frombuffer(pal_bytes, np.uint8).reshape(-1, 3)[:, ::-1]
    row_bytes = (w * bpp + 7) // 8
    stride = row_bytes + ((-row_bytes) % 4)
    rows = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
    rows = rows.reshape(h, stride)[:, :row_bytes]
    if bpp == 8:
        idx = rows[:, :w]
    else:
        idx = _unpack_msb_samples(rows, w, bpp)
    px = pal[idx.reshape(-1)].reshape(h, w, 3)
    return px[::-1]


def decode_bmp(b: bytes):
    """BMP bytes -> (h, w, 3) uint8 RGB array. Decodes the common
    BITMAPINFOHEADER family (round-8 gate retirements): 24/32-bit
    BI_RGB (BGRX — the fourth byte is padding per the original spec,
    dropped), 16-bit BI_RGB (X1R5G5B5, samples expanded
    ``(v << 3) | (v >> 2)``), 16/32-bit BI_BITFIELDS and
    BI_ALPHABITFIELDS with any contiguous channel masks (R5G6B5,
    8888, A2R10G10B10, ...; alpha validated and dropped), 1/4/8-bit
    paletted including BI_RLE8/BI_RLE4 (runs, absolute mode,
    EOL/EOD/delta escapes), BI_JPEG/BI_PNG embedded payloads routed
    to the in-house codecs (dimension-checked against the header),
    and the OS/2 BITMAPCOREHEADER layout (12-byte header, 3-byte
    palette entries). Round 11 adds the printer-DIB CMYK registry —
    BI_CMYK 32-bit ink quads and BI_CMYKRLE8/4 CMYK-palette RLE,
    converted with the same naive uncalibrated map as TIFF
    photometric 5 — so every legal bpp/compression pairing of the
    registry decodes; mismatched pairings raise ValueError."""
    import numpy as np

    if len(b) < 26 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", b, 10)[0]
    (hdr_size,) = struct.unpack_from("<I", b, 14)
    if hdr_size == 12:
        # OS/2 1.x BITMAPCOREHEADER: 16-bit unsigned dims, no
        # compression field, BGR triple palette entries
        return _decode_bmp_core(b, offset)
    if len(b) < 54:
        raise ValueError("not a BMP")
    hdr_size, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
    if comp not in (0, 1, 2, 3, 4, 5, 6, 11, 12, 13) or (
        bpp not in (1, 4, 8, 16, 24, 32)
        if comp not in (4, 5)
        else bpp != 0
    ):
        # bit depths / compressions outside the BITMAPINFOHEADER
        # registry (BI_RGB..BI_PNG, BI_ALPHABITFIELDS=6, BI_CMYK*
        # =11-13; embedded BI_JPEG/BI_PNG carry biBitCount=0) —
        # corrupt header, not a variant; the honest gate below is
        # reserved for values real files can carry
        raise ValueError(f"invalid BMP header (bpp={bpp} comp={comp})")
    if (
        (comp == 1 and bpp != 8)
        or (comp == 2 and bpp != 4)
        or (comp in (3, 6) and bpp not in (16, 32))
        or (comp == 11 and bpp != 32)
        or (comp == 12 and bpp != 8)
        or (comp == 13 and bpp != 4)
    ):
        # RLE8 pairs only with 8-bit, RLE4 with 4-bit, bitfields
        # with 16/32-bit; the printer-DIB CMYK registry mirrors it
        # (BI_CMYK 32-bit ink quads, BI_CMYKRLE8/4 the RLE pairings)
        # — mismatches are spec violations, not variants a codec
        # library would decode
        raise ValueError(f"invalid BMP header (bpp={bpp} comp={comp})")
    flip = h > 0
    h = abs(h)
    if comp in (4, 5):
        # BI_JPEG / BI_PNG: the pixel data is a complete embedded
        # stream (printer-driver passthrough per MSDN); decode it
        # with the in-house codec and cross-check the header dims
        (size_image,) = struct.unpack_from("<I", b, 34)
        payload = b[offset : offset + size_image] if size_image else b[offset:]
        px = (decode_jpeg if comp == 4 else decode_png)(bytes(payload))
        if px.dtype != np.uint8:
            # >8-bit embedded payloads (16-bit PNG, 12/16-bit JPEG)
            # would leak uint16 through BMP's uint8 contract
            raise ValueError("BMP embedded stream must be 8-bit")
        if px.ndim == 2:
            px = np.stack([px] * 3, axis=-1)
        px = px[..., :3]
        if w > 0 and h > 0 and px.shape[:2] != (h, w):
            raise ValueError(
                f"BMP embedded stream dims {px.shape[1]}x{px.shape[0]} "
                f"!= header {w}x{h}"
            )
        return px
    if w <= 0 or h == 0:
        raise ValueError("invalid BMP dimensions")
    if comp in (3, 6):
        # BI_BITFIELDS: three u32 channel masks follow the 40-byte
        # header (same file position inside V4/V5 headers);
        # BI_ALPHABITFIELDS (WinCE) adds a fourth alpha mask.
        # Generic contiguous-mask extraction covers every layout a
        # legal header can carry
        nm = 4 if comp == 6 else 3
        if len(b) < 54 + 4 * nm:
            raise ValueError("BMP bitfields masks truncated")
        masks = struct.unpack_from("<" + "I" * nm, b, 54)
        return _decode_bmp_bitfields(b, w, h, bpp, masks, offset, flip)
    if comp == 11:
        # BI_CMYK printer DIB (gate retired round 11): 32-bit ink
        # quads stored byte-reversed like BGRX — K,Y,M,C per pixel —
        # through the same naive uncalibrated conversion as TIFF
        # photometric 5: channel = (255 - ink) * (255 - K) // 255
        kymc = np.frombuffer(
            b, np.uint8, count=4 * w * h, offset=offset
        ).reshape(h, w, 4)
        cmyk = kymc[..., ::-1].astype(np.int64)
        kk = 255 - cmyk[..., 3]
        px = np.stack(
            [((255 - cmyk[..., j]) * kk) // 255 for j in range(3)],
            axis=-1,
        ).astype(np.uint8)
        return px[::-1] if flip else px
    if bpp in (24, 32):
        ch = bpp // 8
        row = w * ch
        stride = row + ((-row) % 4)
        px = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
        px = px.reshape(h, stride)[:, :row].reshape(h, w, ch)[
            :, :, 2::-1
        ]  # BGR(X) -> RGB, padding byte dropped
        return px[::-1] if flip else px
    if bpp == 16:
        # X1R5G5B5 little-endian (the BI_RGB default); 5-bit samples
        # expand by bit replication, the convention that maps 0->0 and
        # 31->255 exactly
        row = w * 2
        stride = row + ((-row) % 4)
        raw = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
        v = raw.reshape(h, stride)[:, :row].reshape(h, w, 2)
        u = v[..., 0].astype(np.uint16) | (v[..., 1].astype(np.uint16) << 8)
        five = np.stack(
            [(u >> 10) & 31, (u >> 5) & 31, u & 31], axis=-1
        ).astype(np.uint8)
        px = ((five << 3) | (five >> 2)).astype(np.uint8)
        return px[::-1] if flip else px
    # paletted depths: color table of BGRX quads follows the DIB header
    if hdr_size < 40 or 14 + hdr_size > len(b):
        raise ValueError("BMP DIB header truncated")
    clr_used = struct.unpack_from("<I", b, 46)[0]
    n_pal = clr_used or (1 << bpp)
    if n_pal > (1 << bpp):
        raise ValueError("BMP palette too large")
    pal_off = 14 + hdr_size
    pal_bytes = b[pal_off : pal_off + 4 * n_pal]
    if len(pal_bytes) < 4 * n_pal:
        raise ValueError("BMP palette truncated")
    quads = np.frombuffer(pal_bytes, np.uint8).reshape(-1, 4)
    if comp in (12, 13):
        # BI_CMYKRLE8/4 (round 11): palette entries are ink quads,
        # byte-reversed like the pixel layout (K,Y,M,C); convert the
        # TABLE once, the RLE index machinery below is unchanged
        cm = quads[:, ::-1].astype(np.int64)
        kk = 255 - cm[:, 3]
        pal = np.stack(
            [((255 - cm[:, j]) * kk) // 255 for j in range(3)],
            axis=-1,
        ).astype(np.uint8)
    else:
        pal = quads[:, 2::-1]
    if comp == 0:
        row_bytes = (w * bpp + 7) // 8
        stride = row_bytes + ((-row_bytes) % 4)
        rows = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
        rows = rows.reshape(h, stride)[:, :row_bytes]
        if bpp == 8:
            idx = rows[:, :w]
        else:
            # MSB-first packed samples (1 or 4 bits), final-byte padding
            idx = _unpack_msb_samples(rows, w, bpp)
    else:
        # uncompressed paths are implicitly bounded by the buffer
        # (frombuffer raises before allocating); RLE can legitimately
        # expand, so cap the raster BEFORE the zeros/palette-expand
        # allocations — a flipped height byte must not materialize a
        # multi-GB array on a corrupt file (the GIF LZW lesson)
        if w * h > (1 << 26):
            raise ValueError("BMP RLE raster implausibly large")
        idx = _bmp_rle_decode(b[offset:], w, h, nibble=(bpp == 4))
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("BMP palette index out of range")
    px = pal[idx.reshape(-1)].reshape(h, w, 3)
    return px[::-1] if flip else px


def _decode_bmp_bitfields(b, w, h, bpp, masks, offset, flip):
    """BI_BITFIELDS / BI_ALPHABITFIELDS pixel extraction: each
    channel mask must be a contiguous run of bits; an optional 4th
    (alpha) mask is validated and dropped (output is RGB). Samples
    expand to 8 bits by cyclic bit replication — the pattern repeats
    to fill 8 bits and the 8 MSBs are taken, which maps 0 -> 0 and
    full-scale -> 255 exactly at every width and reduces to the
    classic ``(v << 3) | (v >> 2)`` at 5 bits and to top-byte
    truncation at widths >= 8 — so ANY contiguous-mask layout a
    legal 16/32-bit header can carry decodes (555/565/888/101010 and
    the odd widths alike). Overlapping or gappy masks are corrupt,
    not variants."""
    import numpy as np

    for a in range(len(masks)):
        for c in range(a + 1, len(masks)):
            if masks[a] & masks[c]:
                raise ValueError("BMP bitfields masks overlap")
    params = []
    for m in masks[:3]:
        if m == 0 or m > 0xFFFFFFFF or (bpp == 16 and m > 0xFFFF):
            raise ValueError("BMP bitfields mask out of range")
        shift = (m & -m).bit_length() - 1
        width = (m >> shift).bit_length()
        if (m >> shift) != (1 << width) - 1:
            raise ValueError("BMP bitfields mask not contiguous")
        params.append((shift, width))
    if len(masks) > 3 and masks[3]:
        am = masks[3]
        if am > 0xFFFFFFFF or (bpp == 16 and am > 0xFFFF):
            raise ValueError("BMP bitfields mask out of range")
        ashift = (am & -am).bit_length() - 1
        if (am >> ashift) != (1 << (am >> ashift).bit_length()) - 1:
            raise ValueError("BMP bitfields mask not contiguous")
    step = bpp // 8
    row = w * step
    stride = row + ((-row) % 4)
    raw = np.frombuffer(b, np.uint8, count=stride * h, offset=offset)
    rows = raw.reshape(h, stride)[:, :row].reshape(h, w, step)
    u = np.zeros((h, w), np.uint32)
    for i in range(step):
        u |= rows[..., i].astype(np.uint32) << (8 * i)  # little-endian
    chans = []
    for shift, width in params:
        v = ((u >> shift) & ((1 << width) - 1)).astype(np.uint64)
        rep, total = v, width
        while total < 8:
            rep = (rep << width) | v
            total += width
        chans.append((rep >> (total - 8)).astype(np.uint8))
    px = np.stack(chans, axis=-1)
    return px[::-1] if flip else px


def _bmp_rle_decode(data: bytes, w: int, h: int, nibble: bool = False):
    """BI_RLE8 / BI_RLE4 payload -> (h, w) uint8 index raster in the
    file's stored (bottom-up) row order; the caller applies the flip.
    Escape pairs: (0,0) end-of-line, (0,1) end-of-data, (0,2) delta,
    (0,n>=3) absolute run of n literal samples padded to a word
    boundary. ``nibble`` selects RLE4: encoded runs alternate the
    value byte's high/low nibbles; absolute samples pack two per
    byte, high first. Every iteration consumes >= 2 bytes (no stall)
    and every write is bounds-checked (a corrupt stream raises
    ValueError, never writes out of raster or spins)."""
    import numpy as np

    out = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            raise ValueError("BMP RLE stream truncated")
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run
            if y >= h or x + cnt > w:
                raise ValueError("BMP RLE run out of raster")
            if nibble:
                pair = np.array([val >> 4, val & 0x0F], np.uint8)
                out[y, x : x + cnt] = np.tile(pair, (cnt + 1) // 2)[:cnt]
            else:
                out[y, x : x + cnt] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
            if y > h:
                raise ValueError("BMP RLE line count exceeds height")
        elif val == 1:  # end of data
            return out
        elif val == 2:  # delta jump
            if pos + 2 > n:
                raise ValueError("BMP RLE delta truncated")
            x, y = x + data[pos], y + data[pos + 1]
            pos += 2
            if x > w or y > h:
                raise ValueError("BMP RLE delta out of raster")
        else:  # absolute mode: val literal samples, word-aligned
            nbytes = (val + 1) // 2 if nibble else val
            end = pos + nbytes + (nbytes & 1)
            if end > n:
                raise ValueError("BMP RLE absolute run truncated")
            if y >= h or x + val > w:
                raise ValueError("BMP RLE absolute run out of raster")
            lit = np.frombuffer(data[pos : pos + nbytes], np.uint8)
            if nibble:
                nibs = np.empty(nbytes * 2, np.uint8)
                nibs[0::2] = lit >> 4
                nibs[1::2] = lit & 0x0F
                out[y, x : x + val] = nibs[:val]
            else:
                out[y, x : x + val] = lit
            x += val
            pos = end


def encode_ppm(arr) -> bytes:
    """(h, w, 3) uint8 RGB -> binary PPM (P6)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n255\n".encode() + a.tobytes()


def encode_ppm16(arr) -> bytes:
    """(h, w, 3) uint16 RGB -> binary PPM (P6, maxval 65535,
    big-endian 2-byte samples per the netpbm spec)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint16)
    h, w, _ = a.shape
    return f"P6\n{w} {h}\n65535\n".encode() + a.astype(">u2").tobytes()


def decode_ppm(b: bytes):
    """Binary PPM (P6) bytes -> (h, w, 3) RGB array: uint8 for
    maxval <= 255, uint16 (big-endian 2-byte samples) above."""
    import numpy as np

    if b[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    # header = three whitespace-separated tokens after the magic
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment line
            while pos < len(b) and b[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = vals
    if maxval > 65535 or maxval < 1:
        raise ValueError(f"invalid PPM maxval {maxval}")
    if maxval > 255:
        # netpbm spec: maxval > 255 means 2-byte samples, MSB first
        px = np.frombuffer(b, ">u2", count=w * h * 3, offset=pos)
        return px.reshape(h, w, 3).astype(np.uint16)
    px = np.frombuffer(b, np.uint8, count=w * h * 3, offset=pos)
    return px.reshape(h, w, 3)


def encode_pnm(arr, variant: str, maxval: int = 255) -> bytes:
    """netpbm writer for the non-P6 family: ``variant`` in
    P1 (ASCII bitmap — input 1 = black per PBM), P2 (ASCII graymap),
    P3 (ASCII pixmap), P4 (packed binary bitmap), P5 (binary
    graymap; maxval > 255 emits 2-byte big-endian samples)."""
    import numpy as np

    a = np.asarray(arr)
    if variant in ("P1", "P4"):
        h, w = a.shape
        assert int(a.max(initial=0)) <= 1
        head = f"{variant}\n{w} {h}\n".encode()
        if variant == "P1":
            body = b"\n".join(
                b" ".join(b"1" if v else b"0" for v in row)
                for row in a.astype(np.uint8)
            )
            return head + body + b"\n"
        return head + np.packbits(a.astype(np.uint8), axis=1).tobytes()
    if variant in ("P2", "P5"):
        h, w = a.shape
        assert int(a.max(initial=0)) <= maxval
        head = f"{variant}\n{w} {h}\n{maxval}\n".encode()
        if variant == "P2":
            body = b"\n".join(
                b" ".join(str(int(v)).encode() for v in row) for row in a
            )
            return head + body + b"\n"
        dt = ">u2" if maxval > 255 else np.uint8
        return head + a.astype(dt).tobytes()
    assert variant == "P3"
    h, w, _ = a.shape
    assert int(a.max(initial=0)) <= maxval
    head = f"P3\n{w} {h}\n{maxval}\n".encode()
    body = b"\n".join(
        b" ".join(str(int(v)).encode() for v in row.reshape(-1))
        for row in a
    )
    return head + body + b"\n"


def decode_pnm(b: bytes):
    """netpbm P1-P5 -> (h, w, 3) array (P6 decodes via
    ``decode_ppm``): ASCII bitmap/graymap/pixmap with comments and
    arbitrary token whitespace (P1 digits may abut per spec), packed
    binary bitmap (MSB-first, rows byte-padded), binary graymap
    (2-byte big-endian above maxval 255). PBM 1 = black renders 0.
    Samples at maxval < 255 scale by round-half-up (v*255 +
    maxval//2) // maxval — integer, oracle-mirrorable. Structural
    damage (bad magic, short raster, sample > maxval) raises
    ValueError."""
    import numpy as np

    magic = bytes(b[:2])
    if magic not in (b"P1", b"P2", b"P3", b"P4", b"P5"):
        raise ValueError("not a P1-P5 netpbm file")
    bitmap = magic in (b"P1", b"P4")
    nch = 3 if magic == b"P3" else 1
    want_header = 2 if bitmap else 3

    pos = 2
    header: list = []

    def next_token():
        nonlocal pos
        while pos < len(b):
            c = b[pos : pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":
                while pos < len(b) and b[pos] != 0x0A:
                    pos += 1
            else:
                break
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace() and \
                b[pos : pos + 1] != b"#":
            pos += 1
        if start == pos:
            raise ValueError("netpbm header truncated")
        tok = b[start:pos]
        if not tok.isdigit():
            raise ValueError(f"netpbm non-numeric token {tok!r}")
        return int(tok)

    while len(header) < want_header:
        header.append(next_token())
    if bitmap:
        w, h = header
        maxval = 1
    else:
        w, h, maxval = header
    if w < 1 or h < 1 or w * h > (1 << 24):
        raise ValueError("netpbm dimensions implausible")
    if not 1 <= maxval <= 65535:
        raise ValueError(f"netpbm maxval {maxval} invalid")
    if magic in (b"P1", b"P2", b"P3"):
        if magic == b"P1":
            # bits may abut: read digit characters, skipping
            # whitespace and comments
            vals = np.empty(w * h, np.int64)
            got = 0
            while got < w * h:
                if pos >= len(b):
                    raise ValueError("netpbm ASCII raster truncated")
                c = b[pos]
                if c in (0x30, 0x31):
                    vals[got] = c - 0x30
                    got += 1
                    pos += 1
                elif b[pos : pos + 1].isspace():
                    pos += 1
                elif c == 0x23:  # comment
                    while pos < len(b) and b[pos] != 0x0A:
                        pos += 1
                else:
                    raise ValueError("netpbm P1 raster has a non-bit")
        else:
            vals = np.empty(w * h * nch, np.int64)
            for k in range(w * h * nch):
                vals[k] = next_token()
            if int(vals.max(initial=0)) > maxval:
                raise ValueError("netpbm sample exceeds maxval")
        plane = vals.reshape(h, w, nch) if nch == 3 else \
            vals.reshape(h, w, 1)
    elif magic == b"P4":
        pos += 1  # single whitespace after the header
        rb = (w + 7) // 8
        need = rb * h
        if pos + need > len(b):
            raise ValueError("netpbm P4 raster truncated")
        packed = np.frombuffer(b, np.uint8, count=need, offset=pos)
        plane = np.unpackbits(packed.reshape(h, rb), axis=1)[
            :, :w
        ].astype(np.int64)[..., None]
    else:  # P5
        pos += 1
        if maxval > 255:
            need = w * h * 2
            if pos + need > len(b):
                raise ValueError("netpbm P5 raster truncated")
            g = np.frombuffer(b, ">u2", count=w * h, offset=pos)
            if int(g.max(initial=0)) > maxval:
                raise ValueError("netpbm sample exceeds maxval")
            g16 = g.reshape(h, w).astype(np.uint16)
            return np.stack([g16, g16, g16], axis=-1)
        need = w * h
        if pos + need > len(b):
            raise ValueError("netpbm P5 raster truncated")
        g = np.frombuffer(b, np.uint8, count=need, offset=pos)
        if int(g.max(initial=0)) > maxval:
            raise ValueError("netpbm sample exceeds maxval")
        plane = g.reshape(h, w, 1).astype(np.int64)
    if bitmap:
        out = ((1 - plane) * 255).astype(np.uint8)  # 1 = black
    elif maxval == 255:
        out = plane.astype(np.uint8)
    else:
        out = ((plane * 255 + maxval // 2) // maxval).astype(np.uint8)
    if out.shape[2] == 1:
        out = np.repeat(out, 3, axis=2)
    return np.ascontiguousarray(out)


# ---------------------------------------------------------------------------
# PNG (complete legal surface: gray/truecolor/palette/alpha at every
# spec-legal depth, tRNS, Adam7 incl. sub-byte passes): zlib inflate
# + numpy unfiltering — compressed formats reachable with primitives
# already in the container (zlib is stdlib; no Pillow/libpng needed).
# Illegal header combinations raise ValueError, not require_codec.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _paeth_predictor(a, b, c):
    """Vectorized PNG Paeth predictor (spec 9.4): nearest of left/up/
    up-left to p = a + b - c, ties broken left, up, up-left."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


# Adam7 pass grid: (x0, y0, dx, dy) per pass, spec 8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _adam7_filtered(plane3d, bpp: int, filters=None) -> bytearray:
    """Adam7-serialize a (h, w, bpp) byte array: each pass is an
    independent reduced image, filtered like a normal PNG."""
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = plane3d[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        raw += _png_filter_scanlines(
            sub.reshape(sub.shape[0], -1), sub.shape[1], bpp, filters
        )
    return raw


def encode_png(
    arr, filters=None, interlace: bool = False, trns_key=None
) -> bytes:
    """(h, w, 3) uint8 RGB -> PNG bytes (8-bit truecolor, one IDAT).

    ``filters`` picks the per-scanline filter id (0..4); the default
    cycles 0,1,2,3,4 by row so a decode round-trip exercises every
    unfilter path — deliberate for the q147 oracle, and valid PNG
    (encoders may choose any filter per row). ``interlace`` emits the
    Adam7 seven-pass layout (each pass filtered independently).
    ``trns_key`` (r, g, b) emits a tRNS chunk naming that color fully
    transparent (PNG spec 11.3.2: one 16-bit sample per channel)."""
    import numpy as np
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "PNG encoder expects RGB"
    if interlace:
        raw = _adam7_filtered(a, 3, filters)
    else:
        raw = _png_filter_scanlines(a.reshape(h, -1), w, 3, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    trns = (
        _png_chunk(b"tRNS", struct.pack(">HHH", *trns_key))
        if trns_key is not None
        else b""
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + trns
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png_filter_scanlines(a2d, w: int, bpp: int, filters=None) -> bytearray:
    """Apply PNG scanline filters to a (h, w*bpp) byte plane; the
    default cycles 0..4 by row (same contract as ``encode_png``)."""
    import numpy as np

    h = a2d.shape[0]
    stride = w * bpp
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = a2d[y].astype(np.int32)
        ft = (y % 5) if filters is None else int(filters[y])
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        if ft == 0:
            fr = cur
        elif ft == 1:
            fr = cur - left
        elif ft == 2:
            fr = cur - prev
        elif ft == 3:
            fr = cur - ((left + prev) >> 1)
        elif ft == 4:
            pleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            fr = cur - _paeth_predictor(left, prev, pleft)
        else:
            raise ValueError(f"invalid PNG filter {ft}")
        raw.append(ft)
        raw += (fr & 0xFF).astype(np.uint8).tobytes()
        prev = cur
    return raw


def _png_palette_index(arr, max_colors: int):
    """Sorted-distinct-color palette for an (h, w, 3) uint8 RGB array:
    returns the (h, w) uint8 index plane and the PLTE payload bytes;
    raises when the image exceeds ``max_colors`` distinct colors.
    Round-14 fold of the verbatim copies in the 8-bit and sub-byte
    palette encoders."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "palette PNG encoder expects RGB"
    flat = a.reshape(-1, 3)
    packed = (
        flat[:, 0].astype(np.int64) * 65536
        + flat[:, 1].astype(np.int64) * 256
        + flat[:, 2].astype(np.int64)
    )
    colors = np.unique(packed)
    if colors.size > max_colors:
        raise ValueError(
            f"palette PNG: more than {max_colors} distinct colors"
        )
    lut = {int(v): i for i, v in enumerate(colors)}
    idx = np.array(
        [lut[int(v)] for v in packed], dtype=np.uint8
    ).reshape(h, w)
    plte = bytearray()
    for v in colors:
        plte += bytes(
            [(int(v) >> 16) & 0xFF, (int(v) >> 8) & 0xFF, int(v) & 0xFF]
        )
    return idx, bytes(plte)


def encode_png_palette(
    arr, interlace: bool = False, trns_fn=None
) -> bytes:
    """(h, w, 3) uint8 RGB with <= 256 distinct colors -> indexed
    PNG (color type 3): sorted-distinct-color PLTE + a filtered
    1-byte/px index plane — the GIF-class palette layout inside the
    PNG container. ``trns_fn`` maps the (n, 3) palette array to an
    (n,) uint8 alpha vector emitted as the tRNS chunk (PNG spec
    11.3.2: one alpha byte per palette entry)."""
    import numpy as np
    import zlib

    idx, plte = _png_palette_index(arr, 256)
    h, w = idx.shape
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    trns = (
        _png_chunk(
            b"tRNS", np.asarray(trns_fn(pal), dtype=np.uint8).tobytes()
        )
        if trns_fn is not None
        else b""
    )
    if interlace:
        raw = _adam7_filtered(idx[:, :, None], 1)
    else:
        raw = _png_filter_scanlines(idx, w, 1)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + trns
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _encode_png16_any(a, color_type: int, trns: bytes) -> bytes:
    """(h, w, C) uint16 samples -> 16-bit PNG of ``color_type``. PNG
    filters act on BYTES with the pixel offset at 2*C bytes, so the
    u16 plane is serialized big-endian first and filtered there."""
    import numpy as np
    import zlib

    h, w, c = a.shape
    by = (
        np.ascontiguousarray(a.astype(">u2"))
        .view(np.uint8)
        .reshape(h, w * 2 * c)
    )
    raw = _png_filter_scanlines(by, w, 2 * c)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + (_png_chunk(b"tRNS", trns) if trns else b"")
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png16(arr16, trns_key=None) -> bytes:
    """(h, w, 3) uint16 RGB -> 16-bit truecolor PNG. ``trns_key``
    names one (r, g, b) 16-bit triple fully transparent (spec 11.3.2:
    three big-endian u16 samples)."""
    import numpy as np

    a = np.asarray(arr16, dtype=np.uint16)
    assert a.shape[-1] == 3, "16-bit PNG encoder expects RGB"
    trns = struct.pack(">HHH", *trns_key) if trns_key is not None else b""
    return _encode_png16_any(a, 2, trns)


def encode_png16_gray(arr2d, trns_key=None) -> bytes:
    """(h, w) uint16 samples -> 16-bit grayscale PNG (color type 0);
    ``trns_key`` names one 16-bit sample fully transparent."""
    import numpy as np

    a = np.asarray(arr2d, dtype=np.uint16)[..., None]
    trns = struct.pack(">H", trns_key) if trns_key is not None else b""
    return _encode_png16_any(a, 0, trns)


def encode_png16_graya(gray2d, alpha2d) -> bytes:
    """(h, w) uint16 samples + alpha -> 16-bit gray+alpha PNG (color
    type 4)."""
    import numpy as np

    a = np.stack(
        [np.asarray(gray2d, np.uint16), np.asarray(alpha2d, np.uint16)],
        axis=-1,
    )
    return _encode_png16_any(a, 4, b"")


def encode_png16_rgba(arr) -> bytes:
    """(h, w, 4) uint16 RGBA -> 16-bit truecolor+alpha PNG (color
    type 6)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint16)
    assert a.shape[-1] == 4, "16-bit RGBA encoder expects 4 channels"
    return _encode_png16_any(a, 6, b"")


def _pack_sample_rows(sub, depth: int):
    """Bit-pack a (hp, wp) sample plane MSB-first per spec 7.2 into
    (hp, ceil(wp*depth/8)) scanline bytes (depth 8 passes through)."""
    import numpy as np

    if depth == 8:
        return sub
    hp, wp = sub.shape
    bits = np.unpackbits(sub[..., None], axis=2)[:, :, 8 - depth :]
    return np.packbits(bits.reshape(hp, wp * depth), axis=1)


def _adam7_filtered_samples(a2d, depth: int, filters=None) -> bytearray:
    """Adam7-serialize a (h, w) sample plane at 1/2/4/8-bit depth:
    each pass bit-packs its OWN scanlines (so the pass stride is
    ceil(wp*depth/8)) and is filtered as an independent reduced
    image with a 1-byte left-neighbor distance."""
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = a2d[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        rows = _pack_sample_rows(sub, depth)
        raw += _png_filter_scanlines(rows, rows.shape[1], 1, filters)
    return raw


def encode_png_gray(
    arr2d, depth: int = 8, filters=None, trns_key=None,
    interlace: bool = False,
) -> bytes:
    """(h, w) grayscale samples (each < 2^depth) -> PNG color type 0
    at depth 1/2/4/8. Sub-byte depths bit-pack samples MSB-first per
    spec 7.2 (final-byte padding zeroed); filtering then runs on the
    packed bytes with a 1-byte left-neighbor distance (spec 9.2).
    ``trns_key`` names one SAMPLE value fully transparent.
    ``interlace`` emits the Adam7 layout — each pass packs and
    filters its own scanlines at the pass width."""
    import numpy as np
    import zlib

    a = np.asarray(arr2d, dtype=np.uint8)
    h, w = a.shape
    assert depth in (1, 2, 4, 8), "grayscale PNG depth must be 1/2/4/8"
    assert int(a.max(initial=0)) < (1 << depth), "sample exceeds depth"
    if interlace:
        raw = _adam7_filtered_samples(a, depth, filters)
    else:
        rows = _pack_sample_rows(a, depth)
        raw = _png_filter_scanlines(rows, rows.shape[1], 1, filters)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, 0, 0, 0, 1 if interlace else 0
    )
    trns = (
        _png_chunk(b"tRNS", struct.pack(">H", trns_key))
        if trns_key is not None
        else b""
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + trns
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_graya(gray2d, alpha2d) -> bytes:
    """(h, w) gray + (h, w) alpha -> PNG color type 4 (8-bit)."""
    import numpy as np
    import zlib

    g = np.asarray(gray2d, dtype=np.uint8)
    a = np.asarray(alpha2d, dtype=np.uint8)
    h, w = g.shape
    assert a.shape == (h, w), "alpha plane must match gray plane"
    inter = np.stack([g, a], axis=-1).reshape(h, w * 2)
    raw = _png_filter_scanlines(inter, w, 2)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_rgba(arr) -> bytes:
    """(h, w, 4) uint8 RGBA -> PNG color type 6 (8-bit)."""
    import numpy as np
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 4, "RGBA PNG encoder expects 4 channels"
    raw = _png_filter_scanlines(a.reshape(h, -1), w, 4)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette_subbyte(
    arr, depth: int, interlace: bool = False
) -> bytes:
    """(h, w, 3) uint8 RGB with <= 2^depth distinct colors -> indexed
    PNG at depth 1/2/4: the PLTE layout of ``encode_png_palette`` with
    bit-packed index scanlines (``interlace`` = Adam7, each pass
    packed and filtered at its own width)."""
    import zlib

    assert depth in (1, 2, 4), "sub-byte palette depth must be 1/2/4"
    idx, plte = _png_palette_index(arr, 1 << depth)
    h, w = idx.shape
    if interlace:
        raw = _adam7_filtered_samples(idx, depth)
    else:
        rows = _pack_sample_rows(idx, depth)
        raw = _png_filter_scanlines(rows, rows.shape[1], 1)
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, 3, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_apng(frames, screen) -> bytes:
    """APNG writer: ``frames`` is [(rgba_array, (x, y), dispose_op,
    blend_op)] with frame 0 REQUIRED to be the full canvas at (0, 0)
    (the spec's default-image-in-animation layout: its fcTL precedes
    IDAT); later frames may be sub-rects. All frames encode as color
    type 6 (RGBA); frame 0's data ships as IDAT, the rest as fdAT
    with the shared fcTL/fdAT sequence counter."""
    import numpy as np
    import zlib

    sw, sh = screen
    assert frames, "APNG needs at least one frame"
    a0 = np.asarray(frames[0][0], np.uint8)
    assert a0.shape == (sh, sw, 4) and frames[0][1] == (0, 0), (
        "frame 0 must cover the canvas at (0, 0)"
    )

    def frame_zstream(arr):
        # reuse the PNG encoder, then harvest its concatenated IDAT
        # payload (one zlib stream of filtered scanlines)
        png = encode_png_rgba(arr)
        pos, payload = 8, bytearray()
        while pos + 12 <= len(png):
            (ln,) = struct.unpack_from(">I", png, pos)
            typ = png[pos + 4 : pos + 8]
            if typ == b"IDAT":
                payload += png[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        return bytes(payload)

    ihdr = struct.pack(">IIBBBBB", sw, sh, 8, 6, 0, 0, 0)
    out = bytearray(_PNG_SIG)
    out += _png_chunk(b"IHDR", ihdr)
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    for k, (arr, (ox, oy), dispose, blend) in enumerate(frames):
        a = np.asarray(arr, np.uint8)
        fh, fw = a.shape[:2]
        assert ox + fw <= sw and oy + fh <= sh, "frame exceeds canvas"
        fctl = struct.pack(
            ">IIIIIHHBB", seq, fw, fh, ox, oy, 1, 10, dispose, blend
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        z = frame_zstream(a)
        if k == 0:
            out += _png_chunk(b"IDAT", z)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + z)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def decode_apng_frames(b: bytes):
    """APNG -> list of (h, w, 4) uint8 RENDERED canvases, one per
    frame: each frame's zlib stream decodes through the standard PNG
    machinery (a synthesized single-frame PNG reusing the file's
    IHDR depth/color and PLTE/tRNS), then composites per the APNG
    spec — blend_op SOURCE replaces the rect's RGBA, OVER alpha-
    composites (straight alpha); dispose_op 0 keeps the canvas, 1
    clears the frame rect to fully-transparent black, 2 restores the
    pre-frame canvas (frame 0's dispose 2 demotes to 1 per spec).
    fcTL/fdAT sequence numbers are validated consecutive. A plain
    PNG (no acTL) raises ValueError — callers dispatch."""
    import numpy as np
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = trns = None
    actl = None
    frames_meta: list = []  # (fctl_fields, bytearray data)
    idat = bytearray()
    idat_after_first_fctl = False
    expected_seq = 0
    while pos + 12 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(b):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"acTL":
            if len(data) != 8:
                raise ValueError("APNG acTL malformed")
            actl = struct.unpack(">II", data)
        elif typ == b"fcTL":
            if len(data) != 26:
                raise ValueError("APNG fcTL malformed")
            f = struct.unpack(">IIIIIHHBB", data)
            if f[0] != expected_seq:
                raise ValueError("APNG sequence number out of order")
            expected_seq += 1
            frames_meta.append((f, bytearray()))
        elif typ == b"fdAT":
            if len(data) < 4:
                raise ValueError("APNG fdAT malformed")
            (seq,) = struct.unpack_from(">I", data, 0)
            if seq != expected_seq:
                raise ValueError("APNG sequence number out of order")
            expected_seq += 1
            if not frames_meta:
                raise ValueError("APNG fdAT before any fcTL")
            frames_meta[-1][1].extend(data[4:])
        elif typ == b"IDAT":
            idat += data
            if frames_meta:
                idat_after_first_fctl = True
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if actl is None:
        raise ValueError("not an animated PNG (no acTL)")
    if not frames_meta:
        raise ValueError("APNG without fcTL frames")
    if len(frames_meta) != actl[0]:
        raise ValueError("APNG frame count disagrees with acTL")
    if len(frames_meta) > 256:
        raise ValueError("APNG frame count implausible")
    sw, sh, depth, color, comp_m, filt_m, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if sw * sh > (1 << 24):
        raise ValueError("APNG canvas implausibly large")
    # bound TOTAL rendered output, not canvas and frame count
    # independently: 256 frames x 16M-px RGBA canvases would be
    # multi-GB from one payload (mirrors the other decoders'
    # allocation guards, which bound total work)
    if len(frames_meta) * sw * sh > (1 << 26):
        raise ValueError("APNG total rendered area implausibly large")
    # frame 0's data is the IDAT stream when its fcTL precedes IDAT
    if idat_after_first_fctl:
        if frames_meta[0][1]:
            raise ValueError("APNG first frame has both IDAT and fdAT")
        frames_meta[0] = (frames_meta[0][0], bytearray(idat))

    def decode_frame(fw, fh, payload):
        sub = bytearray(_PNG_SIG)
        sub += _png_chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", fw, fh, depth, color, comp_m,
                        filt_m, interlace),
        )
        if plte is not None:
            sub += _png_chunk(b"PLTE", plte)
        if trns is not None:
            sub += _png_chunk(b"tRNS", trns)
        sub += _png_chunk(b"IDAT", bytes(payload))
        sub += _png_chunk(b"IEND", b"")
        px = decode_png(bytes(sub))
        if px.shape[2] == 3:  # opaque layouts composite at alpha 255
            px = np.concatenate(
                [px, np.full(px.shape[:2] + (1,), 255, np.uint8)],
                axis=-1,
            )
        return px

    canvas = np.zeros((sh, sw, 4), np.float64)
    out = []
    for k, (f, payload) in enumerate(frames_meta):
        _seq, fw, fh, ox, oy, _dn, _dd, dispose, blend = f
        if fw < 1 or fh < 1 or ox + fw > sw or oy + fh > sh:
            raise ValueError("APNG frame rect outside the canvas")
        if dispose > 2 or blend > 1:
            raise ValueError("APNG dispose/blend op out of range")
        if k == 0:
            if dispose == 2:
                dispose = 1  # spec: first-frame PREVIOUS demotes
            blend = 0  # spec: first frame always blends SOURCE
        px = decode_frame(fw, fh, payload).astype(np.float64)
        region = canvas[oy : oy + fh, ox : ox + fw]
        before = region.copy()
        if blend == 0:
            region[:] = px
        else:  # OVER, straight alpha per the APNG spec formula
            sa = px[..., 3:4] / 255.0
            da = region[..., 3:4] / 255.0
            oa = sa + da * (1.0 - sa)
            rgb = px[..., :3] * sa + region[..., :3] * da * (1.0 - sa)
            safe = np.where(oa == 0.0, 1.0, oa)
            region[..., :3] = np.where(oa == 0.0, 0.0, rgb / safe)
            region[..., 3:4] = oa * 255.0
        out.append(
            np.clip(np.rint(canvas), 0, 255).astype(np.uint8)
        )
        if dispose == 1:
            canvas[oy : oy + fh, ox : ox + fw] = 0.0
        elif dispose == 2:
            canvas[oy : oy + fh, ox : ox + fw] = before
    return out


def decode_png(b: bytes):
    """PNG bytes -> (h, w, 3) uint8 RGB array, or (h, w, 4) RGBA when
    the layout carries alpha (color types 4/6, or a tRNS chunk on the
    8-bit layouts: truecolor/grayscale transparent-color key per spec
    11.3.2, or per-palette-entry alpha for color type 3, entries past
    the chunk defaulting to 255). Grayscale decodes replicate the
    sample across RGB, sub-byte depths (1/2/4, color 0/3, sequential
    AND Adam7) scaling to 8-bit by the spec's 255/(2^d-1) factor.

    The full legal surface of spec table 11.1 decodes — every
    depth/color combination at both interlace methods — via a
    CRC-checked chunk walk, zlib inflate, then scanline unfiltering:
    None/Up vectorized directly, Sub via a per-pixel cumsum (mod-256
    distributes over addition), Average/Paeth with a per-pixel loop
    (serial data dependency on the reconstructed left neighbor).
    Headers outside the legal table are spec violations and raise
    ValueError like any structural damage (bad signature, short
    chunk, CRC mismatch, payload size, bad filter id) so corrupt
    files surface as null rows, not task failures."""
    import numpy as np
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, ihdr, idat, plte, trns = 8, None, bytearray(), None, None
    while pos + 12 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(b):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"tRNS":
            trns = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
    # Every LEGAL depth/color combination (spec table 11.1) decodes,
    # at both interlace methods, so an unsupported header here is a
    # spec violation — corrupt data, not a gated variant (round-8
    # closure of the PNG surface: sub-byte Adam7 was the last gap).
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    legal = channels is not None and (
        depth == 8
        or (depth == 16 and color in (0, 2, 4, 6))
        or (depth in (1, 2, 4) and color in (0, 3))
    )
    if not legal or comp != 0 or filt != 0 or inter not in (0, 1):
        raise ValueError(
            f"invalid PNG header: depth={depth} color-type={color} "
            f"compression={comp} filter={filt} interlace={inter}"
        )
    if trns is not None:
        if color in (4, 6):  # spec 11.3.2: tRNS forbidden with alpha
            raise ValueError("tRNS with an alpha channel is invalid")
        if color == 2 and len(trns) != 6:
            raise ValueError("truecolor tRNS chunk must be 6 bytes")
        if color == 0 and len(trns) != 2:
            raise ValueError("grayscale tRNS chunk must be 2 bytes")
    try:
        raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from None
    # filtering operates on BYTES: the left-neighbor distance is the
    # pixel's byte width rounded up to 1 (spec 9.2)
    fbpp = max(1, (depth // 8) * channels)
    if depth < 8:

        def _unpack(recon, hp, wp):
            # packed scanline bytes -> (hp, wp) samples, MSB-first
            # (shared _unpack_msb_samples; int32 for downstream math)
            return _unpack_msb_samples(
                recon.astype(np.uint8), wp, depth
            ).astype(np.int32)

        if inter == 0:
            stride = (w * depth + 7) // 8
            recon = _png_unfilter(raw, stride, h, 1)
            plane = _unpack(recon, h, w)[..., None]  # (h, w, 1)
        else:
            # Adam7 at sub-byte depth: each pass bit-packs its OWN
            # scanlines, so the byte stride is ceil(wp*depth/8) per
            # pass and samples scatter back onto the pass grid
            plane = np.zeros((h, w, 1), dtype=np.int32)
            pos = 0
            for x0, y0, dx, dy in _ADAM7:
                hp = -(-(h - y0) // dy) if h > y0 else 0
                wp = -(-(w - x0) // dx) if w > x0 else 0
                if hp == 0 or wp == 0:
                    continue
                stride = (wp * depth + 7) // 8
                need = hp * (1 + stride)
                recon = _png_unfilter(raw[pos : pos + need], stride, hp, 1)
                pos += need
                plane[y0::dy, x0::dx, 0] = _unpack(recon, hp, wp)
            if pos != raw.size:
                raise ValueError("PNG Adam7 payload size mismatch")
    elif inter == 0:
        plane = _png_unfilter(raw, w, h, fbpp).reshape(h, w, fbpp)
    else:
        # Adam7: seven independently-filtered reduced images scattered
        # back onto the pass grid
        plane = np.zeros((h, w, fbpp), dtype=np.int32)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            hp = -(-(h - y0) // dy) if h > y0 else 0
            wp = -(-(w - x0) // dx) if w > x0 else 0
            if hp == 0 or wp == 0:
                continue
            need = hp * (1 + wp * fbpp)
            sub = _png_unfilter(raw[pos : pos + need], wp, hp, fbpp)
            pos += need
            plane[y0::dy, x0::dx] = sub.reshape(hp, wp, fbpp)
        if pos != raw.size:
            raise ValueError("PNG Adam7 payload size mismatch")
    if depth == 16:
        # recombine big-endian byte pairs -> uint16 sample planes
        # (shared by all four 16-bit color types; round-8 completion
        # of the high-depth family: gray, gray+alpha, RGBA)
        by16 = plane.astype(np.uint8).reshape(h, w, channels, 2)
        u16 = (
            by16[..., 0].astype(np.uint16) * 256
            + by16[..., 1].astype(np.uint16)
        )
        if color == 0:
            g16 = u16[..., 0]
            rgb16 = np.stack([g16, g16, g16], axis=-1)
            if trns is None:
                return rgb16
            (key,) = struct.unpack(">H", trns)  # full 16-bit sample key
            alpha16 = np.where(g16 == key, 0, 65535).astype(np.uint16)
            return np.concatenate([rgb16, alpha16[..., None]], axis=-1)
        if color == 4:
            g16 = u16[..., 0]
            return np.stack([g16, g16, g16, u16[..., 1]], axis=-1)
        if color == 6:
            return u16
        # color == 2 (truecolor)
        if trns is None:
            return u16
        # 16-bit color key: three big-endian u16 samples, compared
        # at full sample depth; alpha spans the same 16-bit range
        key16 = np.array(struct.unpack(">HHH", trns), dtype=np.uint16)
        alpha16 = np.where(
            (u16 == key16).all(axis=-1), 0, 65535
        ).astype(np.uint16)
        return np.concatenate([u16, alpha16[..., None]], axis=-1)
    if color == 0:  # grayscale -> RGB (sub-byte samples scale to 8-bit)
        sample = plane[..., 0]
        scale = {8: 1, 4: 17, 2: 85, 1: 255}[depth]
        g8 = (sample * scale).astype(np.uint8)
        rgb = np.stack([g8, g8, g8], axis=-1)
        if trns is None:
            return rgb
        (key,) = struct.unpack(">H", trns)  # key is in SAMPLE depth
        alpha = np.where(sample == key, 0, 255).astype(np.uint8)
        return np.concatenate([rgb, alpha[..., None]], axis=-1)
    if color == 4:  # gray + alpha
        g8 = plane[..., 0].astype(np.uint8)
        return np.stack([g8, g8, g8, plane[..., 1].astype(np.uint8)], axis=-1)
    if color == 6:  # truecolor + alpha
        return plane.astype(np.uint8)
    if color == 2:
        rgb = plane.astype(np.uint8)
        if trns is None:
            return rgb
        # transparent-color key: 16-bit samples carry 8-bit values
        key = np.array(struct.unpack(">HHH", trns), dtype=np.uint8)
        alpha = np.where((rgb == key).all(axis=-1), 0, 255).astype(np.uint8)
        return np.concatenate([rgb, alpha[..., None]], axis=-1)
    if plte is None or len(plte) % 3 != 0 or len(plte) == 0:
        raise ValueError("paletted PNG missing/invalid PLTE")
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idxs = plane.reshape(-1)
    if int(idxs.max(initial=0)) >= pal.shape[0]:
        raise ValueError("PNG palette index out of range")
    rgb = pal[idxs].reshape(h, w, 3)
    if trns is None:
        return rgb
    if len(trns) > pal.shape[0]:
        raise ValueError("tRNS longer than palette")
    alphas = np.full(pal.shape[0], 255, dtype=np.uint8)
    alphas[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
    return np.concatenate(
        [rgb, alphas[idxs].reshape(h, w, 1)], axis=-1
    )


def _png_unfilter(raw, w: int, h: int, bpp: int):
    """Reverse PNG scanline filtering for ``bpp`` bytes/pixel rows."""
    import numpy as np

    stride = w * bpp
    if raw.size != h * (stride + 1):
        raise ValueError("PNG pixel payload size mismatch")
    recon = np.zeros((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        ft = int(raw[pos])
        row = raw[pos + 1 : pos + 1 + stride].astype(np.int32)
        pos += 1 + stride
        if ft == 0:
            cur = row
        elif ft == 1:  # Sub: mod-256 cumsum down the pixel axis
            cur = (
                row.reshape(w, bpp).astype(np.int64).cumsum(axis=0) & 0xFF
            ).astype(np.int32).reshape(-1)
        elif ft == 2:
            cur = (row + prev) & 0xFF
        elif ft in (3, 4):
            cur = np.empty(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            pleft = np.zeros(bpp, dtype=np.int32)
            for x in range(w):
                seg = slice(bpp * x, bpp * x + bpp)
                pr = (
                    (left + prev[seg]) >> 1
                    if ft == 3
                    else _paeth_predictor(left, prev[seg], pleft)
                )
                cur[seg] = (row[seg] + pr) & 0xFF
                left, pleft = cur[seg], prev[seg]
        else:
            raise ValueError(f"invalid PNG filter {ft}")
        recon[y] = cur
        prev = cur
    return recon


# ---------------------------------------------------------------------------
# TIFF (baseline 6.0 + the common extensions, both byte orders): IFD
# walk, strip / tiled (tags 322-325, padded edge tiles) / planar
# (PlanarConfiguration 2, component-major strips) organization,
# Compression 1 (none) / 5 (LZW, MSB-first with EarlyChange) /
# 8+32946 (Deflate) / 32773 (PackBits), Photometric 0/1 (gray,
# WhiteIsZero inverted) / 2 (RGB, extra samples dropped) / 3
# (ColorMap palette, 16-bit entries), 8- and 16-bit samples,
# horizontal-differencing predictor (restarting per tile). Pure
# numpy + zlib. Sub-byte / float / 16-bit-palette / tiled-planar
# variants gate via require_codec; structural damage raises
# ValueError.
# ---------------------------------------------------------------------------


def _unpack_msb_samples(rows, cols: int, depth: int):
    """(h, row_bytes) uint8 array of MSB-first packed samples ->
    (h, cols) uint8 sample plane (depth 1, 2 or 4; final-byte
    padding dropped). Shared by the BMP paletted paths (both header
    families) and sub-byte TIFF."""
    import numpy as np

    h, row_bytes = rows.shape
    bits = np.unpackbits(rows, axis=1)
    if depth == 1:
        return bits[:, :cols]
    grp = bits.reshape(h, row_bytes * 8 // depth, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grp * weights).sum(axis=-1).astype(np.uint8)[:, :cols]


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE: n in 0..127 copies n+1 literals, n in
    -127..-1 repeats the next byte 1-n times, -128 is a no-op."""
    out = bytearray()
    pos, nd = 0, len(data)
    while pos < nd and len(out) < expected:
        n = data[pos]
        pos += 1
        if n < 128:  # literal run of n+1
            if pos + n + 1 > nd:
                raise ValueError("TIFF PackBits literal truncated")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if pos >= nd:
                raise ValueError("TIFF PackBits repeat truncated")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    if len(out) != expected:
        raise ValueError("TIFF PackBits strip size mismatch")
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: runs of >=3 become repeats, the rest are
    literal groups (max 128 either way)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal group up to the next >=3 run
        j = i
        while j < n and j - i < 128:
            k = j + 1
            while k < n and k - j < 3 and data[k] == data[j]:
                k += 1
            if k - j >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (MSB-first packing, 9->12 bit codes with
    EarlyChange: width bumps when the NEXT code to assign would be
    2^width - 1), Clear=256, EOI=257. Output is capped at
    ``expected`` so a corrupt stream cannot balloon memory."""
    out = bytearray()
    acc = nbits = 0
    pos, nd = 0, len(data)
    width = 9
    table: list[bytes] = []
    prev = None

    def reset():
        nonlocal width, table, prev
        width = 9
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= nd:
                return bytes(out)  # no EOI: tolerate, size-checked below
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1
        if code == 256:
            reset()
            continue
        if code == 257:
            break
        if prev is None:
            if code >= 256:
                raise ValueError("TIFF LZW stream starts mid-table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("TIFF LZW code past table")
        out += entry
        if len(out) > expected:
            raise ValueError("TIFF LZW output exceeds strip size")
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) > 4096:
                raise ValueError("TIFF LZW table overflow (no clear)")
            # the decoder's table lags the encoder's by one entry, so
            # EarlyChange lands one entry earlier here (libtiff's
            # dec_maxcodep convention)
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW compressor matching ``_tiff_lzw_decode``'s
    width schedule exactly (EarlyChange), with a table reset at
    4094."""
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    d: dict[bytes, int] = {}
    width = 9
    nxt = 258

    def reset():
        nonlocal d, width, nxt
        d = {bytes([i]): i for i in range(256)}
        width = 9
        nxt = 258

    emit(256, 9)
    reset()
    w = b""
    for i in range(len(data)):
        ch = data[i : i + 1]
        if w + ch in d:
            w += ch
            continue
        emit(d[w], width)
        d[w + ch] = nxt
        nxt += 1
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        if nxt == 4094:
            emit(256, width)
            reset()
        w = ch
    if w:
        emit(d[w], width)
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# CCITT G3/G4 bilevel fax coding (TIFF compressions 2/3/4): pure
# bit-twiddling from the public ITU-T T.4 tables 2/3/4 (terminating +
# make-up run codes), T.4 §4.2 (2-D READ vertical/horizontal/pass
# modes) and T.6 (G4: every row 2-D against the previous, imaginary
# all-white first reference, EOFB). TIFF 6.0 §11 defines compression
# 2 as T.4 1-D without EOLs with every row byte-aligned; T4Options
# bit 0 selects 2-D rows (each EOL followed by a 1-D/2-D tag bit),
# T6Options bit 1 (uncompressed mode) stays gated. Run colors code
# white-as-stored-0; the photometric branch maps afterwards, so
# WhiteIsZero fax files (the standard) render white as 255.
# Reference parity: libtiff tif_fax3.c implements the same tables and
# modes; scanned-document corpora are the dominant user.
# ---------------------------------------------------------------------------

# T.4 terminating codes, run 0-63: (bits, code) — white then black.
_CCITT_WHITE_TERM = [
    (8, 0b00110101), (6, 0b000111), (4, 0b0111), (4, 0b1000),
    (4, 0b1011), (4, 0b1100), (4, 0b1110), (4, 0b1111),
    (5, 0b10011), (5, 0b10100), (5, 0b00111), (5, 0b01000),
    (6, 0b001000), (6, 0b000011), (6, 0b110100), (6, 0b110101),
    (6, 0b101010), (6, 0b101011), (7, 0b0100111), (7, 0b0001100),
    (7, 0b0001000), (7, 0b0010111), (7, 0b0000011), (7, 0b0000100),
    (7, 0b0101000), (7, 0b0101011), (7, 0b0010011), (7, 0b0100100),
    (7, 0b0011000), (8, 0b00000010), (8, 0b00000011), (8, 0b00011010),
    (8, 0b00011011), (8, 0b00010010), (8, 0b00010011), (8, 0b00010100),
    (8, 0b00010101), (8, 0b00010110), (8, 0b00010111), (8, 0b00101000),
    (8, 0b00101001), (8, 0b00101010), (8, 0b00101011), (8, 0b00101100),
    (8, 0b00101101), (8, 0b00000100), (8, 0b00000101), (8, 0b00001010),
    (8, 0b00001011), (8, 0b01010010), (8, 0b01010011), (8, 0b01010100),
    (8, 0b01010101), (8, 0b00100100), (8, 0b00100101), (8, 0b01011000),
    (8, 0b01011001), (8, 0b01011010), (8, 0b01011011), (8, 0b01001010),
    (8, 0b01001011), (8, 0b00110010), (8, 0b00110011), (8, 0b00110100),
]
_CCITT_BLACK_TERM = [
    (10, 0b0000110111), (3, 0b010), (2, 0b11), (2, 0b10),
    (3, 0b011), (4, 0b0011), (4, 0b0010), (5, 0b00011),
    (6, 0b000101), (6, 0b000100), (7, 0b0000100), (7, 0b0000101),
    (7, 0b0000111), (8, 0b00000100), (8, 0b00000111), (9, 0b000011000),
    (10, 0b0000010111), (10, 0b0000011000), (10, 0b0000001000),
    (11, 0b00001100111), (11, 0b00001101000), (11, 0b00001101100),
    (11, 0b00000110111), (11, 0b00000101000), (11, 0b00000010111),
    (11, 0b00000011000), (12, 0b000011001010), (12, 0b000011001011),
    (12, 0b000011001100), (12, 0b000011001101), (12, 0b000001101000),
    (12, 0b000001101001), (12, 0b000001101010), (12, 0b000001101011),
    (12, 0b000011010010), (12, 0b000011010011), (12, 0b000011010100),
    (12, 0b000011010101), (12, 0b000011010110), (12, 0b000011010111),
    (12, 0b000001101100), (12, 0b000001101101), (12, 0b000011011010),
    (12, 0b000011011011), (12, 0b000001010100), (12, 0b000001010101),
    (12, 0b000001010110), (12, 0b000001010111), (12, 0b000001100100),
    (12, 0b000001100101), (12, 0b000001010010), (12, 0b000001010011),
    (12, 0b000000100100), (12, 0b000000110111), (12, 0b000000111000),
    (12, 0b000000100111), (12, 0b000000101000), (12, 0b000001011000),
    (12, 0b000001011001), (12, 0b000000101011), (12, 0b000000101100),
    (12, 0b000001011010), (12, 0b000001100110), (12, 0b000001100111),
]
# Make-up codes for runs 64*k, k = 1..27 (64..1728).
_CCITT_WHITE_MAKEUP = [
    (5, 0b11011), (5, 0b10010), (6, 0b010111), (7, 0b0110111),
    (8, 0b00110110), (8, 0b00110111), (8, 0b01100100), (8, 0b01100101),
    (8, 0b01101000), (8, 0b01100111), (9, 0b011001100), (9, 0b011001101),
    (9, 0b011010010), (9, 0b011010011), (9, 0b011010100),
    (9, 0b011010101), (9, 0b011010110), (9, 0b011010111),
    (9, 0b011011000), (9, 0b011011001), (9, 0b011011010),
    (9, 0b011011011), (9, 0b010011000), (9, 0b010011001),
    (9, 0b010011010), (6, 0b011000), (9, 0b010011011),
]
_CCITT_BLACK_MAKEUP = [
    (10, 0b0000001111), (12, 0b000011001000), (12, 0b000011001001),
    (12, 0b000001011011), (12, 0b000000110011), (12, 0b000000110100),
    (12, 0b000000110101), (13, 0b0000001101100), (13, 0b0000001101101),
    (13, 0b0000001001010), (13, 0b0000001001011), (13, 0b0000001001100),
    (13, 0b0000001001101), (13, 0b0000001110010), (13, 0b0000001110011),
    (13, 0b0000001110100), (13, 0b0000001110101), (13, 0b0000001110110),
    (13, 0b0000001110111), (13, 0b0000001010010), (13, 0b0000001010011),
    (13, 0b0000001010100), (13, 0b0000001010101), (13, 0b0000001011010),
    (13, 0b0000001011011), (13, 0b0000001100100), (13, 0b0000001100101),
]
# Extended make-up codes common to both colors: 1792..2560 step 64.
_CCITT_EXT_MAKEUP = [
    (11, 0b00000001000), (11, 0b00000001100), (11, 0b00000001101),
    (12, 0b000000010010), (12, 0b000000010011), (12, 0b000000010100),
    (12, 0b000000010101), (12, 0b000000010110), (12, 0b000000010111),
    (12, 0b000000011100), (12, 0b000000011101), (12, 0b000000011110),
    (12, 0b000000011111),
]


def _ccitt_decode_maps():
    """(white_map, black_map): {(nbits, code): run_length}."""
    wm, bm = {}, {}
    for run, (n, c) in enumerate(_CCITT_WHITE_TERM):
        wm[(n, c)] = run
    for run, (n, c) in enumerate(_CCITT_BLACK_TERM):
        bm[(n, c)] = run
    for k, (n, c) in enumerate(_CCITT_WHITE_MAKEUP):
        wm[(n, c)] = 64 * (k + 1)
    for k, (n, c) in enumerate(_CCITT_BLACK_MAKEUP):
        bm[(n, c)] = 64 * (k + 1)
    for k, (n, c) in enumerate(_CCITT_EXT_MAKEUP):
        wm[(n, c)] = 1792 + 64 * k
        bm[(n, c)] = 1792 + 64 * k
    return wm, bm


_CCITT_WHITE_MAP, _CCITT_BLACK_MAP = _ccitt_decode_maps()
_CCITT_MAX_CODE_BITS = 13  # longest T.4 code (13-bit black make-ups)
_CCITT_EOL = (12, 0b000000000001)


class _CcittBitWriter:
    """MSB-first bit accumulator."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, nbits: int, code: int) -> None:
        self.acc = (self.acc << nbits) | (code & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.put(8 - self.nbits, 0)

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.nbits:
            out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(out)


class _CcittBitReader:
    """MSB-first bit reader over one strip's bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bits_left(self) -> int:
        return 8 * len(self.data) - self.pos

    def peek(self, n: int) -> int:
        """Next n bits MSB-first, zero-padded past the end."""
        v = 0
        p = self.pos
        for _ in range(n):
            byte = self.data[p >> 3] if (p >> 3) < len(self.data) else 0
            v = (v << 1) | ((byte >> (7 - (p & 7))) & 1)
            p += 1
        return v

    def skip(self, n: int) -> None:
        self.pos += n

    def get(self, n: int) -> int:
        v = self.peek(n)
        self.pos += n
        return v

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _ccitt_run_codes(run: int, white: bool):
    """Yield the (nbits, code) pairs coding one run of one color:
    make-up chain (repeated 2560s for very long runs, per accepted
    practice) then a terminating code."""
    term = _CCITT_WHITE_TERM if white else _CCITT_BLACK_TERM
    makeup = _CCITT_WHITE_MAKEUP if white else _CCITT_BLACK_MAKEUP
    while run >= 2624:
        yield _CCITT_EXT_MAKEUP[-1]  # 2560
        run -= 2560
    if run >= 1792:
        k = (run - 1792) // 64
        yield _CCITT_EXT_MAKEUP[k]
        run -= 1792 + 64 * k
    elif run >= 64:
        k = run // 64 - 1
        yield makeup[k]
        run -= 64 * (k + 1)
    yield term[run]


def _ccitt_read_run(rd: _CcittBitReader, white: bool) -> int:
    """One complete run length (make-up chain + terminating code)."""
    total = 0
    m = _CCITT_WHITE_MAP if white else _CCITT_BLACK_MAP
    while True:
        for n in range(2, _CCITT_MAX_CODE_BITS + 1):
            if rd.bits_left() < n:
                raise ValueError("CCITT stream truncated in run code")
            run = m.get((n, rd.peek(n)))
            if run is not None:
                rd.skip(n)
                total += run
                if run < 64:  # terminating code ends the run
                    return total
                break
        else:
            raise ValueError("CCITT invalid run code")


def _ccitt_transitions(row) -> list:
    """Changing-element positions of a bit row (white=0): position i
    is a changing element when row[i] != row[i-1] (row[-1] imagined
    white). Two sentinels at w keep b1/b2 lookups in range. Even-index
    entries start black runs, odd-index start white runs."""
    import numpy as np

    w = len(row)
    d = np.flatnonzero(np.diff(np.concatenate(([0], row)))).tolist()
    return d + [w, w]


def _ccitt_b1_b2(ref_tr: list, a0: int, white: bool, w: int):
    """b1: first changing element on the reference line strictly
    right of a0 whose transition is to the color OPPOSITE the coding
    color; b2: the next one after it (T.4 §4.2.1.1)."""
    import bisect

    i = bisect.bisect_right(ref_tr, a0, hi=len(ref_tr) - 2)
    if (i & 1) != (0 if white else 1):
        i += 1
    b1 = ref_tr[i] if i < len(ref_tr) else w
    b2 = ref_tr[i + 1] if i + 1 < len(ref_tr) else w
    return b1, b2


def _ccitt_encode_row_1d(wr: _CcittBitWriter, row) -> None:
    """One MH row: alternating white/black runs, white first (a row
    starting black gets a zero-length white terminating code)."""
    import numpy as np

    w = len(row)
    pos = 0
    white = True
    while pos < w:
        if white:
            rest = row[pos:]
            run = int(np.argmax(rest)) if rest.any() else w - pos
        else:
            inv = row[pos:] == 0
            run = int(np.argmax(inv)) if inv.any() else w - pos
        for nb, code in _ccitt_run_codes(run, white):
            wr.put(nb, code)
        pos += run
        white = not white


def _ccitt_decode_row_1d(rd: _CcittBitReader, w: int):
    """One MH row -> uint8 bit row (white=0, black=1)."""
    import numpy as np

    row = np.zeros(w, np.uint8)
    pos = 0
    white = True
    while pos < w:
        run = _ccitt_read_run(rd, white)
        if pos + run > w:
            raise ValueError("CCITT run overruns the row")
        if not white:
            row[pos : pos + run] = 1
        pos += run
        white = not white
    return row


# 2-D (READ) mode codes: vertical (a1 = b1 + d), horizontal, pass.
_CCITT_MODE_P = (4, 0b0001)
_CCITT_MODE_H = (3, 0b001)
_CCITT_MODE_V = {
    0: (1, 0b1),
    1: (3, 0b011), 2: (6, 0b000011), 3: (7, 0b0000011),
    -1: (3, 0b010), -2: (6, 0b000010), -3: (7, 0b0000010),
}


def _ccitt_encode_uncompressed(wr: _CcittBitWriter, row, start: int,
                               end: int, next_white: bool) -> None:
    """T.4 §4.2.1.3.3 uncompressed-mode segment: entry extension
    code 0000001 111, literal codes (0^n 1 for n<=4 whites + a
    black, 000001 for five whites), then the exit code 0^(6+n) 1 T
    where n counts trailing whites and T gives the colour of the
    run the 2-D coder resumes in (0 = white)."""
    wr.put(7, 0b0000001)
    wr.put(3, 0b111)
    pend = 0
    for p in range(start, end):
        if row[p] == 0:
            pend += 1
            if pend == 5:
                wr.put(6, 0b000001)
                pend = 0
        else:
            wr.put(pend + 1, 1)
            pend = 0
    wr.put(7 + pend, 1)  # exit: 6+pend zeros then 1
    wr.put(1, 0 if next_white else 1)


def _ccitt_encode_row_2d(wr: _CcittBitWriter, row, ref_tr: list,
                         unc_prefix: bool = False) -> None:
    """One 2-D READ row against the reference transition list: pass
    when b2 < a1, vertical when |a1-b1| <= 3, else horizontal with
    two explicit runs. a0 starts at the imaginary -1 white element;
    horizontal run lengths count from max(a0, 0). ``unc_prefix``
    codes the row's prefix (up to its second changing element, or
    the whole row) in uncompressed mode first — the coverage path
    for the T4/T6Options uncompressed bit."""
    w = len(row)
    cur_tr = _ccitt_transitions(row)
    a0 = -1
    white = True
    ci = 0
    if unc_prefix:
        real = cur_tr[:-2]
        stop = real[1] if len(real) >= 2 else w
        nw = bool(stop >= w or row[stop] == 0)
        _ccitt_encode_uncompressed(wr, row, 0, stop, nw)
        a0 = stop
        white = nw
        if a0 >= w:
            return
    while a0 < w:
        while ci < len(cur_tr) - 2 and cur_tr[ci] <= a0:
            ci += 1
        a1 = cur_tr[ci] if ci < len(cur_tr) - 1 and cur_tr[ci] > a0 else w
        if ci >= len(cur_tr) - 2 and a1 <= a0:
            a1 = w
        a2 = cur_tr[ci + 1] if ci + 1 < len(cur_tr) - 1 and a1 < w else w
        if a2 <= a1:
            a2 = w
        b1, b2 = _ccitt_b1_b2(ref_tr, a0, white, w)
        if b2 < a1:
            wr.put(*_CCITT_MODE_P)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            wr.put(*_CCITT_MODE_V[a1 - b1])
            a0 = a1
            white = not white
        else:
            wr.put(*_CCITT_MODE_H)
            start = max(a0, 0)
            for nb, code in _ccitt_run_codes(a1 - start, white):
                wr.put(nb, code)
            for nb, code in _ccitt_run_codes(a2 - a1, not white):
                wr.put(nb, code)
            a0 = a2


def _ccitt_decode_row_2d(rd: _CcittBitReader, ref_tr: list, w: int):
    """One 2-D READ row -> uint8 bit row (white=0)."""
    import numpy as np

    row = np.zeros(w, np.uint8)
    a0 = -1
    white = True
    while a0 < w:
        mode = None
        for n in (1, 3, 4, 6, 7):
            if rd.bits_left() < n:
                break
            v = rd.peek(n)
            if n == 1 and v == 0b1:
                mode = ("V", 0)
            elif n == 3 and v == 0b011:
                mode = ("V", 1)
            elif n == 3 and v == 0b010:
                mode = ("V", -1)
            elif n == 3 and v == 0b001:
                mode = ("H", 0)
            elif n == 4 and v == 0b0001:
                mode = ("P", 0)
            elif n == 6 and v == 0b000011:
                mode = ("V", 2)
            elif n == 6 and v == 0b000010:
                mode = ("V", -2)
            elif n == 7 and v == 0b0000011:
                mode = ("V", 3)
            elif n == 7 and v == 0b0000010:
                mode = ("V", -3)
            elif n == 7 and v == 0b0000001:
                mode = ("E", 0)  # 2-D extension: 3-bit subtype follows
            if mode is not None:
                rd.skip(n)
                break
        if mode is None:
            raise ValueError("CCITT invalid 2-D mode code")
        kind, d = mode
        if kind == "E":
            if rd.bits_left() < 3:
                raise ValueError("CCITT extension code truncated")
            ext = rd.get(3)
            if ext != 0b111:
                require_codec(f"CCITT 2-D extension code {ext}")
            # uncompressed mode (T.4 §4.2.1.3.3): literal pixels from
            # the current position; codes 0^n 1 (n<=4 whites then a
            # black), 000001 (five whites), exit 0^(6+n) 1 T
            p = max(a0, 0)
            while True:
                zeros = 0
                while True:
                    if rd.bits_left() < 1:
                        raise ValueError("CCITT uncompressed truncated")
                    if rd.get(1):
                        break
                    zeros += 1
                    if zeros > 10:
                        raise ValueError(
                            "CCITT uncompressed code runaway"
                        )
                if zeros <= 4:
                    if p + zeros + 1 > w:
                        raise ValueError(
                            "CCITT uncompressed overruns the row"
                        )
                    row[p + zeros] = 1
                    p += zeros + 1
                elif zeros == 5:
                    if p + 5 > w:
                        raise ValueError(
                            "CCITT uncompressed overruns the row"
                        )
                    p += 5
                else:
                    ntrail = zeros - 6
                    if p + ntrail > w:
                        raise ValueError(
                            "CCITT uncompressed overruns the row"
                        )
                    p += ntrail
                    if rd.bits_left() < 1:
                        raise ValueError(
                            "CCITT uncompressed missing colour bit"
                        )
                    white = rd.get(1) == 0
                    a0 = p
                    break
            continue
        b1, b2 = _ccitt_b1_b2(ref_tr, a0, white, w)
        if kind == "P":
            if not white:
                row[max(a0, 0) : b2] = 1
            a0 = b2
        elif kind == "V":
            a1 = b1 + d
            if a1 < 0 or a1 > w or a1 <= a0:
                # changing elements are strictly monotone along a row
                # (T.4 §4.2): a corrupt stream must not walk backwards
                raise ValueError("CCITT vertical mode out of range")
            if not white:
                row[max(a0, 0) : a1] = 1
            a0 = a1
            white = not white
        else:  # horizontal: two explicit runs
            start = max(a0, 0)
            r1 = _ccitt_read_run(rd, white)
            r2 = _ccitt_read_run(rd, not white)
            if start + r1 + r2 > w:
                raise ValueError("CCITT horizontal runs overrun the row")
            if white:
                row[start + r1 : start + r1 + r2] = 1
            else:
                row[start : start + r1] = 1
            a0 = start + r1 + r2
    return row


def _ccitt_skip_eol(rd: _CcittBitReader) -> None:
    """Consume fill bits + one EOL (>= 11 zeros then a 1) — fill-bit
    (T4Options bit 2) streams decode for free."""
    zeros = 0
    while True:
        if rd.bits_left() < 1:
            raise ValueError("CCITT missing EOL")
        if rd.get(1) == 0:
            zeros += 1
            if zeros > 64:
                raise ValueError("CCITT EOL fill runaway")
        else:
            if zeros < 11:
                raise ValueError("CCITT malformed EOL")
            return


def ccitt_encode(plane, comp: int, t4_2d: bool = False,
                 uncompressed: bool = False) -> bytes:
    """Bilevel plane (uint8, 0=white, 1=black) -> CCITT strip bytes.

    comp 2: Modified Huffman, each row byte-aligned (TIFF 6.0 §11).
    comp 3: T.4/G3 — EOL before every row; ``t4_2d`` adds the 1-D/2-D
        tag bit after each EOL and codes alternate rows 2-D.
    comp 4: T.6/G4 — every row 2-D, EOFB terminator.
    ``uncompressed`` codes every other 2-D row's prefix in T.4
    uncompressed mode (the T4/T6Options bit-1 surface) — callers
    must set the matching option bit in the IFD.
    """
    import numpy as np

    a = np.asarray(plane, np.uint8)
    h, w = a.shape
    wr = _CcittBitWriter()
    if comp == 2:
        for y in range(h):
            _ccitt_encode_row_1d(wr, a[y])
            wr.align()
    elif comp == 3:
        prev_tr = None
        for y in range(h):
            wr.put(*_CCITT_EOL)
            if t4_2d:
                use_1d = y % 2 == 0
                wr.put(1, 1 if use_1d else 0)
                if use_1d:
                    _ccitt_encode_row_1d(wr, a[y])
                else:
                    _ccitt_encode_row_2d(
                        wr, a[y], prev_tr,
                        unc_prefix=uncompressed and y % 4 == 1,
                    )
            else:
                _ccitt_encode_row_1d(wr, a[y])
            prev_tr = _ccitt_transitions(a[y])
        wr.put(*_CCITT_EOL)  # trailing EOL
    elif comp == 4:
        ref_tr = [w, w]  # imaginary all-white reference line
        for y in range(h):
            _ccitt_encode_row_2d(
                wr, a[y], ref_tr,
                unc_prefix=uncompressed and y % 2 == 0,
            )
            ref_tr = _ccitt_transitions(a[y])
        wr.put(*_CCITT_EOL)
        wr.put(*_CCITT_EOL)  # EOFB
    else:
        raise ValueError(f"ccitt_encode: bad compression {comp}")
    return wr.bytes()


def ccitt_decode(data: bytes, w: int, h: int, comp: int,
                 t4_2d: bool = False):
    """CCITT strip bytes -> (h, w) uint8 bit plane (white=0,
    black=1). ``comp`` follows the TIFF compression tag (2/3/4);
    trailing EOFB/RTC bits after the last row are ignored (TIFF knows
    the row count from the IFD)."""
    import numpy as np

    if w < 1 or h < 1:
        raise ValueError("CCITT dimensions invalid")
    rd = _CcittBitReader(data)
    rows = np.zeros((h, w), np.uint8)
    if comp == 2:
        for y in range(h):
            rows[y] = _ccitt_decode_row_1d(rd, w)
            rd.align()
    elif comp == 3:
        prev_tr = None
        for y in range(h):
            _ccitt_skip_eol(rd)
            if t4_2d:
                if rd.bits_left() < 1:
                    raise ValueError("CCITT missing 2-D tag bit")
                if rd.get(1):
                    rows[y] = _ccitt_decode_row_1d(rd, w)
                else:
                    if prev_tr is None:
                        raise ValueError("CCITT 2-D row without reference")
                    rows[y] = _ccitt_decode_row_2d(rd, prev_tr, w)
            else:
                rows[y] = _ccitt_decode_row_1d(rd, w)
            prev_tr = _ccitt_transitions(rows[y])
    elif comp == 4:
        ref_tr = [w, w]
        for y in range(h):
            rows[y] = _ccitt_decode_row_2d(rd, ref_tr, w)
            ref_tr = _ccitt_transitions(rows[y])
    else:
        raise ValueError(f"ccitt_decode: bad compression {comp}")
    return rows


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1}


def _tiff_decompress_segment(chunk, expected, comp):
    """Decompress one TIFF strip/tile payload per the compression tag
    (1 none / 32773 PackBits / 5 LZW / 8+32946 Deflate), validating
    the expected decoded size. Round-14 fold of the verbatim
    closures in decode_tiff / decode_tiff_float."""
    import zlib

    if comp == 1:
        if len(chunk) < expected:
            raise ValueError("TIFF segment truncated")
        return chunk[:expected]
    if comp == 32773:
        return _packbits_decode(chunk, expected)
    if comp == 5:
        data = _tiff_lzw_decode(chunk, expected)
        if len(data) != expected:
            raise ValueError("TIFF LZW segment size mismatch")
        return data
    try:  # 8 / 32946: zlib Deflate
        data = zlib.decompress(chunk, bufsize=expected)
    except zlib.error as exc:
        raise ValueError(f"TIFF deflate segment corrupt: {exc}")
    if len(data) != expected:
        raise ValueError("TIFF deflate segment size mismatch")
    return data


def _tiff_ifd_entries(b: bytes, e: str, ifd_off: int) -> dict:
    """Walk one TIFF IFD: tag -> (type, count, value-slot offset).
    Shared by decode_tiff / decode_tiff_float (round-14 fold of two
    verbatim copies)."""
    if ifd_off + 2 > len(b):
        raise ValueError("TIFF IFD offset out of range")
    (n_ent,) = struct.unpack_from(e + "H", b, ifd_off)
    if ifd_off + 2 + 12 * n_ent > len(b):
        raise ValueError("TIFF IFD truncated")
    entries: dict[int, tuple] = {}
    for k in range(n_ent):
        tag, typ, cnt = struct.unpack_from(
            e + "HHI", b, ifd_off + 2 + 12 * k
        )
        entries[tag] = (typ, cnt, ifd_off + 2 + 12 * k + 8)
    return entries


def _tiff_entry_values(entries, e, b, tag, default=None):
    """One IFD entry's value list: BYTE/ASCII/UNDEFINED as raw byte
    lists, SHORT/LONG/RATIONAL unpacked at the inline-or-offset
    location, bounds-checked (the ValueError-only damage contract)."""
    if tag not in entries:
        return default
    typ, cnt, at = entries[tag]
    size = _TIFF_TYPE_SIZE.get(typ)
    if size is None:
        raise ValueError(f"TIFF entry type {typ} unsupported")
    if cnt == 0:
        raise ValueError("TIFF entry count zero")
    total = size * cnt
    if total > 4:
        (at,) = struct.unpack_from(e + "I", b, at)
    if at + total > len(b):
        raise ValueError("TIFF entry data out of range")
    if typ in (1, 2, 7):  # BYTE / ASCII / UNDEFINED
        return list(b[at : at + cnt])
    fmt = {3: "H", 4: "I", 5: "II"}[typ]
    return list(struct.unpack_from(e + fmt * cnt, b, at))


def _tiff_ojpeg_per_strip(
    b, entries, values, one, w, h, spp, photo, depth, planar, tiled
):
    """Old-style JPEG-in-TIFF (compression 6) in its PER-STRIP
    table-tag layout — the half of TIFF 6.0 §22 the round-10
    retirement left gated: no JPEGInterchangeFormat stream; instead
    each strip holds raw entropy-coded data and the tables live at
    the JPEGQTables (519) / JPEGDCTables (520) / JPEGACTables (521)
    offsets (one per component; Q tables are 64 zigzag bytes, Huffman
    tables 16 BITS counts + values, both WITHOUT marker framing).
    The decoder reconstructs a standalone baseline JPEG around every
    strip (SOI + DQT/DHT from the tags + DRI from JPEGRestartInterval
    515 + SOF0 sized to the strip + SOS + entropy + EOI) and routes
    it through decode_jpeg — the same synthesis libtiff's OJPEG
    layer performs, rebuilt here from the public spec. DC predictors
    reset per strip by construction (each strip is its own scan).
    Gray (photometric 1/0) and chunky YCbCr (photometric 6, sampling
    from tag 530, default 2,2) decode. Round 13 retires the
    JPEGProc gate for proc 14 (LOSSLESS, T.81 process 14 — the
    §22 layout DNG's ancestors shipped): only JPEGDCTables (520)
    matters, JPEGLosslessPredictors (517) / JPEGPointTransforms
    (518) supply the scan header (one predictor per scan, so mixed
    per-component values gate), the synthesized stream is SOF3, and
    photometrics 0/1 (gray) and 2 (RGB — lossless has no color
    transform) decode at 8 AND 16 bits (the DNG-class depth;
    SOF3 is precision-parameterized); RowsPerStrip is unconstrained
    (no MCU grid). Other JPEGProc values, planar, tiled, remaining
    depths/photometrics stay honestly gated."""
    import numpy as np

    proc = one(512, 1)
    if proc not in (1, 14):
        require_codec(f"old-style per-strip JPEG JPEGProc {proc}")
    lossless = proc == 14
    if depth != 8:
        # round 13: lossless proc 14 decodes the DNG-class 16-bit
        # rasters too (SOF3 is precision-parameterized; 12-bit data
        # rides 16-bit containers in real files, so the TIFF layer
        # only sees 8/16)
        if not (lossless and depth == 16):
            if lossless:
                require_codec(
                    f"old-style lossless JPEG {depth}-bit samples"
                )
            raise ValueError(
                "old-style JPEG-in-TIFF requires 8-bit samples"
            )
    if photo not in ((0, 1, 2) if lossless else (0, 1, 6)):
        require_codec(f"old-style per-strip JPEG photometric {photo}")
    if planar == 2 and spp != 1:
        require_codec("old-style per-strip JPEG planar configuration")
    if tiled:
        require_codec("old-style per-strip JPEG tiles")
    if (photo in (0, 1) and spp != 1) or (photo in (2, 6) and spp != 3):
        raise ValueError("old-style JPEG photometric/spp mismatch")
    dcoffs = values(520)
    if lossless:
        qoffs = acoffs = None
        if dcoffs is None:
            require_codec(
                "old-style lossless JPEG TIFF without "
                "JPEGInterchangeFormat or DC table tags"
            )
        dcoffs = list(dcoffs)
        if len(dcoffs) != spp:
            raise ValueError("old-style JPEG table tag counts mismatch")
        preds_t = list(values(517, [1] * spp))
        pts_t = list(values(518, [0] * spp))
        if len(preds_t) != spp or len(pts_t) != spp:
            raise ValueError(
                "old-style lossless JPEG predictor/Pt tag counts"
            )
        if len(set(preds_t)) != 1 or len(set(pts_t)) != 1:
            # a T.81 scan carries ONE predictor/Pt; per-component
            # mixes would need component-split scans
            require_codec(
                "old-style lossless JPEG mixed per-component "
                "predictors/point transforms"
            )
        sel_pred, sel_pt = preds_t[0], pts_t[0]
        if not 1 <= sel_pred <= 7 or not 0 <= sel_pt < depth:
            raise ValueError(
                "old-style lossless JPEG predictor/Pt out of range"
            )
    else:
        qoffs = values(519)
        acoffs = values(521)
        if qoffs is None or dcoffs is None or acoffs is None:
            require_codec(
                "old-style JPEG TIFF without JPEGInterchangeFormat or "
                "per-strip table tags"
            )
        qoffs, dcoffs, acoffs = list(qoffs), list(dcoffs), list(acoffs)
        if not (len(qoffs) == len(dcoffs) == len(acoffs) == spp):
            raise ValueError("old-style JPEG table tag counts mismatch")

    def read_q(off):
        if off < 0 or off + 64 > len(b):
            raise ValueError("old-style JPEG Q table out of range")
        return bytes(b[off : off + 64])

    def read_huff(off):
        if off < 0 or off + 16 > len(b):
            raise ValueError("old-style JPEG Huffman table out of range")
        bits = bytes(b[off : off + 16])
        nv = sum(bits)
        if nv == 0 or nv > 256 or off + 16 + nv > len(b):
            raise ValueError("old-style JPEG Huffman table malformed")
        return bits + bytes(b[off + 16 : off + 16 + nv])

    # dedupe shared tables by OFFSET -> slot ids (spp <= 3 so the
    # 2-bit table-id space always suffices)
    def slots(offs, reader):
        ids, blobs = [], []
        seen = {}
        for off in offs:
            if off not in seen:
                seen[off] = len(blobs)
                blobs.append(reader(off))
            ids.append(seen[off])
        return ids, blobs

    dcids, dcblobs = slots(dcoffs, read_huff)
    if lossless:
        qids = qblobs = acids = acblobs = None
    else:
        qids, qblobs = slots(qoffs, read_q)
        acids, acblobs = slots(acoffs, read_huff)

    if photo == 6:
        ss = values(530, [2, 2])
        if len(ss) != 2 or ss[0] not in (1, 2, 4) or ss[1] not in (1, 2, 4):
            raise ValueError("TIFF YCbCrSubSampling invalid")
        sh_, sv_ = ss
        samp = [(sh_, sv_), (1, 1), (1, 1)]
    else:
        sh_ = sv_ = 1
        samp = [(1, 1)] * spp
    ri = one(515, 0)

    offsets = values(273)
    counts = values(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF strip tables missing or mismatched")
    rps = one(278, h)
    if rps < 1:
        raise ValueError("TIFF RowsPerStrip invalid")
    if not lossless and len(offsets) > 1 and rps % (8 * sv_):
        # lossless has no MCU grid — any strip height is legal
        raise ValueError(
            "old-style JPEG RowsPerStrip not an MCU-row multiple"
        )
    if len(offsets) != -(-h // rps):
        raise ValueError("TIFF strip count does not cover the image")

    head = bytearray(b"\xff\xd8")
    if not lossless:
        for tid, blob in enumerate(qblobs):
            head += _jpg_seg(0xDB, bytes([tid]) + blob)
    for tid, blob in enumerate(dcblobs):
        head += _jpg_seg(0xC4, bytes([tid]) + blob)
    if not lossless:
        for tid, blob in enumerate(acblobs):
            head += _jpg_seg(0xC4, bytes([0x10 | tid]) + blob)
    head += _jpg_dri_seg(ri)

    parts = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(b):
            raise ValueError("TIFF strip out of range")
        rows_here = min(rps, h - si * rps)
        stream = bytearray(head)
        stream += _jpg_seg(
            0xC3 if lossless else 0xC0,
            _jpg_sof_payload(depth, rows_here, w, [
                (c + 1, samp[c][0], samp[c][1],
                 0 if lossless else qids[c])
                for c in range(spp)
            ]),
        )
        if lossless:
            sos = _jpg_sos_payload(
                [(c + 1, dcids[c], 0) for c in range(spp)],
                sel_pred, 0, 0, sel_pt,
            )
        else:
            sos = _jpg_sos_payload(
                [(c + 1, dcids[c], acids[c]) for c in range(spp)], 0, 63, 0, 0
            )
        stream += _jpg_seg(0xDA, sos)
        stream += bytes(b[off : off + cnt])
        stream += b"\xff\xd9"
        px = decode_jpeg(bytes(stream))
        want_dt = np.uint8 if depth == 8 else np.uint16
        if px.dtype != want_dt:
            raise ValueError(
                "TIFF embedded JPEG precision/depth mismatch"
            )
        if px.shape[0] < rows_here or px.shape[1] < w:
            raise ValueError("TIFF JPEG strip smaller than declared")
        parts.append(px[:rows_here, :w])
    out = np.concatenate(parts, axis=0)
    if photo == 0:  # WhiteIsZero gray, like the other JPEG layouts
        full = (1 << depth) - 1
        out = (full - out.astype(np.int64)).astype(
            np.uint8 if depth == 8 else np.uint16
        )
    return out


def decode_tiff(b: bytes):
    """TIFF bytes -> (h, w, 3) uint8 RGB array (see the section
    comment for the supported surface)."""
    import numpy as np

    if b[:4] == b"II\x2a\x00":
        e = "<"
    elif b[:4] == b"MM\x00\x2a":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    if len(b) < 8:
        raise ValueError("TIFF header truncated")
    (ifd_off,) = struct.unpack_from(e + "I", b, 4)
    entries = _tiff_ifd_entries(b, e, ifd_off)

    def values(tag, default=None):
        return _tiff_entry_values(entries, e, b, tag, default)

    def one(tag, default=None):
        v = values(tag, None)
        return default if v is None else v[0]

    tiled = 322 in entries or 323 in entries
    w, h = one(256), one(257)
    if not w or not h:
        raise ValueError("TIFF missing dimensions")
    spp = one(277, 1)
    if not 1 <= spp <= 16:
        # buffer sizes multiply by SamplesPerPixel; real files carry
        # 1-4 (and a few extra samples) — a 5-digit value is corrupt
        raise ValueError("TIFF SamplesPerPixel implausible")
    bits = values(258, [1] * spp)
    comp = one(259, 1)
    photo = one(262)
    if photo is None:
        raise ValueError("TIFF missing PhotometricInterpretation")
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError("TIFF PlanarConfiguration invalid")
    sfmt = values(339, [1] * spp)
    if any(v != 1 for v in sfmt):
        require_codec(f"TIFF sample format {sfmt}")
    if all(v == 8 for v in bits):
        sb, depth = 1, 8
    elif all(v == 16 for v in bits):
        sb, depth = 2, 16
    elif bits and all(v == bits[0] for v in bits) and bits[0] in (1, 2, 4):
        # sub-byte samples (the fax/document class, plus sub-byte
        # CMYK separations): MSB-first packed sample sequence, each
        # row padded to a byte boundary
        sb, depth = 1, bits[0]
    else:
        require_codec(f"TIFF bits per sample {bits}")
    pred = one(317, 1)
    if pred not in (1, 2):
        require_codec(f"TIFF predictor {pred}")
    if pred == 2 and depth < 8:
        # the spec defines horizontal differencing for 8/16/32-bit
        # integer samples only
        raise ValueError("TIFF predictor on sub-byte samples")
    t4_2d = False
    if comp in (2, 3, 4):
        # CCITT G3/G4 bilevel fax (the scanned-document class)
        if depth != 1 or spp != 1:
            raise ValueError("CCITT compression requires bilevel samples")
        if photo not in (0, 1):
            raise ValueError("CCITT compression with color photometric")
        if planar == 2:
            raise ValueError("CCITT with planar configuration")
        # tiled fax and the T4/T6Options uncompressed bit both decode
        # (gates retired round 10): tiles are independent coding
        # blocks like strips, and uncompressed-mode codes are simply
        # understood whenever present — the option bit only PERMITS
        # them (lenient, like real fax decoders)
        t4opts = one(292, 0) if comp == 3 else 0
        t4_2d = bool(t4opts & 0b1)
    elif comp == 6:
        # old-style JPEG-in-TIFF (TIFF 6.0 §22, deprecated by
        # TechNote 2): the layout real files actually carry is ONE
        # full interchange stream pointed at by JPEGInterchangeFormat
        # (513) / ...Length (514) — decoded here through the in-house
        # decode_jpeg (gate retired round 10). Round 12 retires the
        # PER-STRIP table variant too (below): strips carry raw
        # entropy data, quant/Huffman tables live at the
        # JPEGQTables/JPEGDCTables/JPEGACTables tag offsets, and the
        # decoder synthesizes a standalone JPEG per strip — the
        # libtiff OJPEG reconstruction of TIFF 6.0 §22's design.
        if 513 not in entries:
            return _tiff_ojpeg_per_strip(
                b, entries, values, one, w, h, spp, photo, depth,
                planar, tiled,
            )
        joff = one(513)  # present: 513-in-entries checked above
        jlen = one(514, len(b) - joff)
        if joff + jlen > len(b) or jlen < 4:
            raise ValueError("TIFF JPEGInterchangeFormat out of range")
        stream = b[joff : joff + jlen]
        if stream[:2] != b"\xff\xd8":
            raise ValueError("TIFF old-style JPEG stream missing SOI")
        px = decode_jpeg(stream)
        if px.dtype != np.uint8:
            # a >8-bit embedded stream would leak uint16 through the
            # container's uint8 contract (and wrap WhiteIsZero)
            raise ValueError("TIFF embedded JPEG must be 8-bit")
        if px.shape[0] < h or px.shape[1] < w:
            raise ValueError("TIFF old-style JPEG smaller than declared")
        out = px[:h, :w]
        if photo == 0:  # WhiteIsZero gray JPEG, like compression 7
            out = (255 - out.astype(np.int32)).astype(np.uint8)
        elif photo not in (1, 6):
            require_codec(f"old-style JPEG-in-TIFF photometric {photo}")
        return out
    elif comp not in (1, 5, 7, 8, 32773, 32946):
        require_codec(f"TIFF compression {comp}")
    if w * h * spp * sb > (1 << 27):
        # decompressors size buffers from the header (the deflate
        # path preallocates `expected`); a corrupt dimension must not
        # materialize a multi-GB buffer — the BMP RLE lesson
        raise ValueError("TIFF raster implausibly large")

    def decompress(chunk, expected):
        return _tiff_decompress_segment(chunk, expected, comp)

    def row_nbytes(cols, ch):
        if depth < 8:
            # pixel-interleaved sample sequence, rows pad to a byte
            return (cols * ch * depth + 7) // 8
        return cols * ch * sb

    def as_pixels(buf, rows, cols, ch):
        if depth < 8:
            rb = row_nbytes(cols, ch)
            packed = np.frombuffer(bytes(buf), np.uint8).reshape(rows, rb)
            return _unpack_msb_samples(packed, cols * ch, depth).reshape(
                rows, cols, ch
            )
        if sb == 1:
            return np.frombuffer(bytes(buf), np.uint8).reshape(
                rows, cols, ch
            )
        return (
            np.frombuffer(bytes(buf), e + "u2")
            .reshape(rows, cols, ch)
            .astype(np.uint16)
        )

    def unpredict(arr):
        # horizontal differencing restarts at every row (rows never
        # cross a strip or tile): rebuild by per-row cumulative sum
        # (mod the sample width)
        if pred == 2:
            return np.cumsum(arr.astype(np.uint32), axis=1).astype(
                arr.dtype
            )
        return arr

    def chunk_at(off, cnt):
        if off + cnt > len(b):
            raise ValueError("TIFF strip out of range")
        return b[off : off + cnt]

    if comp == 7:
        # new-style JPEG-in-TIFF (TIFF TechNote 2): every strip/tile
        # is a complete JPEG interchange stream, or an abbreviated
        # one whose DQT/DHT live in the shared JPEGTables tag (347,
        # SOI + table segments + EOI) spliced in after each SOI.
        # The in-house decode_jpeg does the entropy decode and (for
        # photometric 6) the YCbCr conversion; photometric 2 is the
        # container's RGB-space override (no color transform —
        # round 11, with the tiled and planar organizations: tiles
        # are independent full-size JPEGs pasted into the grid
        # canvas, planar segments single-component scans,
        # component-major). Segments decode independently — the
        # layout that lets a 100 TB scan parallelize WITHIN one
        # scanned page.
        if depth != 8:
            raise ValueError("JPEG-in-TIFF requires 8-bit samples")
        if photo not in (0, 1, 2, 5, 6):
            require_codec(f"JPEG-in-TIFF photometric {photo}")
        if (photo in (0, 1) and spp != 1) or \
                (photo in (2, 6) and spp != 3) or \
                (photo == 5 and spp != 4):
            raise ValueError("JPEG-in-TIFF photometric/spp mismatch")
        tb_body = b""
        if 347 in entries:
            tb = bytes(values(347))
            if len(tb) < 4 or tb[:2] != b"\xff\xd8" or \
                    tb[-2:] != b"\xff\xd9":
                raise ValueError("TIFF JPEGTables malformed")
            tb_body = tb[2:-2]

        # planar with ONE sample per pixel is degenerate-legal
        # (identical to chunky) — spp>=3 splits the segment sequence
        # into component-major plane sets of SINGLE-component scans
        # (round 12: planar YCbCr with subsampled chroma planes and
        # planar CMYK both decode; the strip walk below is per-plane)
        planar_sep = planar == 2 and spp >= 3

        def jdec(off, cnt):
            stream = bytes(chunk_at(off, cnt))
            if stream[:2] != b"\xff\xd8":
                raise ValueError("TIFF JPEG segment missing SOI")
            if tb_body:
                stream = b"\xff\xd8" + tb_body + stream[2:]
            px = decode_jpeg(
                stream,
                color_space=(
                    # planar segments are single-component scans:
                    # decode as gray (code values replicated to 3);
                    # the container owns any color interpretation
                    "auto" if planar_sep
                    else "rgb" if photo == 2
                    else "cmyk" if photo == 5
                    else "auto"
                ),
            )
            if px.dtype != np.uint8:
                raise ValueError("TIFF embedded JPEG must be 8-bit")
            if px.shape[2] != (4 if photo == 5 and not planar_sep else 3):
                raise ValueError(
                    "TIFF embedded JPEG component count mismatch"
                )
            return px

        nplanes = spp if planar_sep else 1
        # per-plane dims: photometric 6 ships SUBSAMPLED chroma
        # planes (TIFF 6.0 §21); every other photometric stores
        # full-size planes
        sh_ = sv_ = 1
        pdims = [(h, w)] * nplanes
        jcrk, jcbk, jgcr, jgcb = 1.402, 1.772, 0.714136286, 0.344136286
        if planar_sep and photo == 6:
            ss = values(530, [2, 2])
            if len(ss) != 2 or ss[0] not in (1, 2, 4) or \
                    ss[1] not in (1, 2, 4):
                raise ValueError("TIFF YCbCrSubSampling invalid")
            sh_, sv_ = ss
            jcrk, jcbk, jgcr, jgcb = _ycbcr_inverse_consts(values(529))
            pdims = [(h, w)] + [(-(-h // sv_), -(-w // sh_))] * 2
        planes = None
        if tiled:
            tw, th = one(322), one(323)
            if not tw or not th:
                raise ValueError("TIFF tile dimensions invalid")
            offsets = values(324)
            counts = values(325)
            if not offsets or not counts or len(offsets) != len(counts):
                raise ValueError("TIFF tile tables missing or mismatched")
            ta, td = -(-w // tw), -(-h // th)
            ch_out = 4 if photo == 5 else 3
            if tw * th > (1 << 24) or \
                    ta * tw * td * th * ch_out > (1 << 27):
                raise ValueError("TIFF tile grid implausibly large")
            if planar_sep:
                # per-plane tile grids: a photometric-6 chroma plane
                # covers its SUBSAMPLED dims with its own grid
                # (round 12 — the last JPEG-in-TIFF organization);
                # full-size planes (photo 2/5) reduce to the uniform
                # grid this branch always handled
                grids = [
                    (ph, pw, -(-pw // tw), -(-ph // th))
                    for (ph, pw) in pdims
                ]
                if len(offsets) != sum(a * d for _, _, a, d in grids):
                    raise ValueError(
                        "TIFF tile count does not cover the planes"
                    )
                planes, k = [], 0
                for ph, pw, ta_p, td_p in grids:
                    cv = np.zeros((td_p * th, ta_p * tw), np.uint8)
                    for idx in range(ta_p * td_p):
                        px = jdec(offsets[k], counts[k])
                        k += 1
                        if px.shape[0] < th or px.shape[1] < tw:
                            raise ValueError(
                                "TIFF JPEG tile smaller than declared"
                            )
                        ty, tx = idx // ta_p, idx % ta_p
                        cv[ty * th : (ty + 1) * th,
                           tx * tw : (tx + 1) * tw] = px[:th, :tw, 0]
                    planes.append(cv[:ph, :pw])
            else:
                if len(offsets) != ta * td:
                    raise ValueError(
                        "TIFF tile count does not cover the image"
                    )
                canvas = np.zeros((td * th, ta * tw, ch_out), np.uint8)
                for idx, (off, cnt) in enumerate(zip(offsets, counts)):
                    px = jdec(off, cnt)
                    if px.shape[0] < th or px.shape[1] < tw:
                        raise ValueError(
                            "TIFF JPEG tile smaller than declared"
                        )
                    ty, tx = idx // ta, idx % ta
                    canvas[ty * th : (ty + 1) * th,
                           tx * tw : (tx + 1) * tw] = px[:th, :tw]
                out = canvas[:h, :w]
        else:
            offsets = values(273)
            counts = values(279)
            if not offsets or not counts or len(offsets) != len(counts):
                raise ValueError("TIFF strip tables missing or mismatched")
            rps = one(278, h)
            if rps < 1:
                raise ValueError("TIFF RowsPerStrip invalid")
            per_plane = -(-h // rps)
            if len(offsets) != per_plane * nplanes:
                raise ValueError("TIFF strip count does not cover the image")
            if planar_sep and photo == 6 and per_plane > 1 and rps % sv_:
                raise ValueError(
                    "planar YCbCr RowsPerStrip not a multiple of the "
                    "vertical subsampling"
                )
            if planar_sep:
                # component-major plane sets; chroma strips of a
                # photometric-6 file carry rows_img/sv plane rows for
                # the same rps image rows (TIFF 6.0 §21)
                planes = []
                for p, (ph, pw) in enumerate(pdims):
                    vstep = sv_ if (photo == 6 and p > 0) else 1
                    bufs = []
                    for s in range(per_plane):
                        off = offsets[p * per_plane + s]
                        cnt = counts[p * per_plane + s]
                        rows_img = min(rps, h - s * rps)
                        rows_here = -(-rows_img // vstep)
                        px = jdec(off, cnt)
                        if px.shape[0] < rows_here or px.shape[1] < pw:
                            raise ValueError(
                                "TIFF JPEG strip smaller than declared"
                            )
                        bufs.append(px[:rows_here, :pw, 0])
                    planes.append(np.concatenate(bufs, axis=0)[:ph])
            else:
                parts = []
                for si, (off, cnt) in enumerate(zip(offsets, counts)):
                    rows_here = min(rps, h - si * rps)
                    px = jdec(off, cnt)
                    if px.shape[0] < rows_here or px.shape[1] < w:
                        raise ValueError(
                            "TIFF JPEG strip smaller than declared"
                        )
                    parts.append(px[:rows_here, :w])
                out = np.concatenate(parts, axis=0)
        if planes is not None:
            if photo == 6:
                # upsample chroma by replication and convert (shared
                # by the strip AND tile planar walks) — JPEG-in-TIFF
                # YCbCr is full-range by the TechNote convention
                # (same as the chunky path, where the JPEG decoder
                # itself converts); tag 529 feeds the general
                # inverse, the default triple keeping decode_jpeg's
                # exact literal constants
                yf = planes[0].astype(np.float64)
                cbf = np.repeat(
                    np.repeat(planes[1], sv_, 0), sh_, 1
                )[:h, :w].astype(np.float64) - 128.0
                crf = np.repeat(
                    np.repeat(planes[2], sv_, 0), sh_, 1
                )[:h, :w].astype(np.float64) - 128.0
                r = yf + jcrk * crf
                g = yf - jgcb * cbf - jgcr * crf
                bl = yf + jcbk * cbf
                out = np.stack(
                    [
                        np.clip(np.floor(x + 0.5), 0, 255)
                        for x in (r, g, bl)
                    ],
                    axis=-1,
                ).astype(np.uint8)
            else:
                out = np.stack(planes, axis=-1)
        if photo == 5:
            # CMYK JPEG (the Adobe scanned-document class): the
            # shared naive uncalibrated ink conversion
            ink = out.astype(np.int64)
            kk = 255 - ink[..., 3]
            out = np.stack(
                [((255 - ink[..., j]) * kk) // 255 for j in range(3)],
                axis=-1,
            ).astype(np.uint8)
        if photo == 0:  # WhiteIsZero gray JPEG: spec-legal inversion
            out = (255 - out.astype(np.int32)).astype(np.uint8)
        return out

    if photo == 6:
        # YCbCr (the digicam-TIFF surface): chunky data units of
        # sh*sv Y samples + one Cb + one Cr (TIFF 6.0 §21), chroma
        # replicated back to full resolution and converted with
        # decode_jpeg's exact full-range CCIR-601 float math — the
        # same closed forms hold for both containers. Round 12
        # retires the ORGANIZATION gates: PlanarConfiguration 2
        # stores three plain rasters (no data-unit interleave, §21)
        # with chroma planes at the subsampled dims, tiles hold
        # data-unit grids (chunky) or per-plane raster grids
        # (planar), and tag 529 (YCbCrCoefficients) feeds the
        # general inverse — the default triple keeps the literal
        # constants, bit-identical to the old path.
        if depth != 8:
            require_codec("deep (non-8-bit) YCbCr TIFF")
        if spp != 3:
            raise ValueError("TIFF YCbCr requires 3 samples per pixel")
        if pred == 2:
            raise ValueError("TIFF predictor on YCbCr data units")
        ss = values(530, [2, 2])
        if len(ss) != 2 or ss[0] not in (1, 2, 4) or ss[1] not in (1, 2, 4):
            raise ValueError("TIFF YCbCrSubSampling invalid")
        sh_, sv_ = ss
        crk, cbk, gcr, gcb = _ycbcr_inverse_consts(values(529))
        # ReferenceBlackWhite headroom (round 11): the TIFF 6.0 §20
        # linear code map FullRange = (code - black) * CodingRange /
        # (white - black), CodingRange 255 for Y and 127 for Cb/Cr
        # (chroma zero sits at its ReferenceBlack). The full-range
        # default (0,255,128,255,128,255) reduces to Y=code,
        # C=code-128 EXACTLY in IEEE double ((x-0)*1.0, (x-128)*1.0),
        # so the general path keeps bit parity with the
        # closed-form oracle on default rows.
        rbw = values(532)
        vals6 = [0.0, 255.0, 128.0, 255.0, 128.0, 255.0]
        if rbw is not None:
            if len(rbw) != 12 or any(d == 0 for d in rbw[1::2]):
                raise ValueError("TIFF ReferenceBlackWhite malformed")
            vals6 = [n / d for n, d in zip(rbw[0::2], rbw[1::2])]
            if (vals6[1] == vals6[0] or vals6[3] == vals6[2]
                    or vals6[5] == vals6[4]):
                raise ValueError("TIFF ReferenceBlackWhite degenerate")
        ch, cw = -(-h // sv_), -(-w // sh_)  # chroma plane dims
        unit = sh_ * sv_ + 2

        def unpack_units(raw, ud, ua, rows_keep, cols_keep):
            # one data-unit grid -> (Y rows, Cb grid, Cr grid)
            u = np.frombuffer(
                bytes(raw[: ud * ua * unit]), np.uint8
            ).reshape(ud, ua, unit)
            ys = u[:, :, : sh_ * sv_].reshape(ud, ua, sv_, sh_)
            yp = ys.transpose(0, 2, 1, 3).reshape(ud * sv_, ua * sh_)
            return (
                yp[:rows_keep, :cols_keep],
                u[:, :, sh_ * sv_],
                u[:, :, unit - 1],
            )

        if tiled:
            tw, th = one(322), one(323)
            if not tw or not th:
                raise ValueError("TIFF tile dimensions invalid")
            if tw % sh_ or th % sv_:
                raise ValueError(
                    "YCbCr tile dims not multiples of the subsampling"
                )
            offsets = values(324)
            counts = values(325)
            if not offsets or not counts or len(offsets) != len(counts):
                raise ValueError("TIFF tile tables missing or mismatched")
            ta_t, td_t = -(-w // tw), -(-h // th)
            if tw * th > (1 << 24) or ta_t * tw * td_t * th * 3 > (1 << 27):
                raise ValueError("TIFF tile grid implausibly large")
            if planar == 2:
                # per-plane raster tile grids; chroma grids cover the
                # SUBSAMPLED plane dims (same convention as the
                # planar strip sets)
                grids = [
                    (ph, pw, -(-pw // tw), -(-ph // th))
                    for (ph, pw) in ((h, w), (ch, cw), (ch, cw))
                ]
                if len(offsets) != sum(a * d for _, _, a, d in grids):
                    raise ValueError(
                        "TIFF tile count does not cover the planes"
                    )
                planes, k = [], 0
                for ph, pw, ta_p, td_p in grids:
                    cv = np.zeros((td_p * th, ta_p * tw), np.uint8)
                    for idx in range(ta_p * td_p):
                        raw = decompress(
                            chunk_at(offsets[k], counts[k]), tw * th
                        )
                        k += 1
                        tile = np.frombuffer(
                            bytes(raw[: tw * th]), np.uint8
                        ).reshape(th, tw)
                        ty, tx = idx // ta_p, idx % ta_p
                        cv[ty * th : (ty + 1) * th,
                           tx * tw : (tx + 1) * tw] = tile
                    planes.append(cv[:ph, :pw])
                y2, cb2, cr2 = planes
            else:
                if len(offsets) != ta_t * td_t:
                    raise ValueError(
                        "TIFF tile count does not cover the image"
                    )
                ua_t, ud_t = tw // sh_, th // sv_
                ycan = np.zeros((td_t * th, ta_t * tw), np.uint8)
                cbcan = np.zeros((td_t * ud_t, ta_t * ua_t), np.uint8)
                crcan = np.zeros_like(cbcan)
                for idx, (off, cnt) in enumerate(zip(offsets, counts)):
                    raw = decompress(chunk_at(off, cnt), ua_t * ud_t * unit)
                    yt, cbt, crt = unpack_units(raw, ud_t, ua_t, th, tw)
                    ty, tx = idx // ta_t, idx % ta_t
                    ycan[ty * th : (ty + 1) * th,
                         tx * tw : (tx + 1) * tw] = yt
                    cbcan[ty * ud_t : (ty + 1) * ud_t,
                          tx * ua_t : (tx + 1) * ua_t] = cbt
                    crcan[ty * ud_t : (ty + 1) * ud_t,
                          tx * ua_t : (tx + 1) * ua_t] = crt
                y2 = ycan[:h, :w]
                cb2, cr2 = cbcan[:ch, :cw], crcan[:ch, :cw]
        else:
            offsets = values(273)
            counts = values(279)
            if not offsets or not counts or len(offsets) != len(counts):
                raise ValueError("TIFF strip tables missing or mismatched")
            rps = one(278, h)
            if rps < 1:
                raise ValueError("TIFF RowsPerStrip invalid")
            per_plane = -(-h // rps)
            if per_plane > 1 and rps % sv_:
                raise ValueError(
                    "YCbCr RowsPerStrip not a multiple of the subsampling"
                )
            if planar == 2:
                # three plain-raster strip sets, component-major; a
                # chroma strip carries ceil(rps/sv) plane rows for
                # the same rps image rows (TIFF 6.0 §21 — no
                # data-unit interleave in planar mode)
                if len(offsets) != per_plane * 3:
                    raise ValueError(
                        "TIFF strip count does not cover the planes"
                    )
                planes = []
                for p, (ph, pw) in enumerate(
                    ((h, w), (ch, cw), (ch, cw))
                ):
                    vstep = sv_ if p else 1
                    bufs = []
                    for s in range(per_plane):
                        rows_img = min(rps, h - s * rps)
                        rows_here = -(-rows_img // vstep)
                        raw = decompress(
                            chunk_at(
                                offsets[p * per_plane + s],
                                counts[p * per_plane + s],
                            ),
                            rows_here * pw,
                        )
                        bufs.append(
                            np.frombuffer(
                                bytes(raw[: rows_here * pw]), np.uint8
                            ).reshape(rows_here, pw)
                        )
                    planes.append(np.concatenate(bufs, axis=0)[:ph])
                y2, cb2, cr2 = planes
            else:
                if len(offsets) != per_plane:
                    raise ValueError(
                        "TIFF strip count does not cover the image"
                    )
                ta = -(-w // sh_)
                ybuf, cbbuf, crbuf = [], [], []
                for si, (off, cnt) in enumerate(zip(offsets, counts)):
                    rows_here = min(rps, h - si * rps)
                    td_s = -(-rows_here // sv_)
                    raw = decompress(chunk_at(off, cnt), ta * td_s * unit)
                    yt, cbt, crt = unpack_units(raw, td_s, ta, rows_here, w)
                    ybuf.append(yt)
                    cbbuf.append(cbt)
                    crbuf.append(crt)
                y2 = np.concatenate(ybuf, axis=0)
                cb2 = np.concatenate(cbbuf, axis=0)
                cr2 = np.concatenate(crbuf, axis=0)
        yb, yw6, cbb, cbw, crb, crw = vals6
        yf = (y2.astype(np.float64) - yb) * (255.0 / (yw6 - yb))
        cbf = (
            np.repeat(np.repeat(cb2, sv_, 0), sh_, 1)[:h, :w].astype(
                np.float64
            ) - cbb
        ) * (127.0 / (cbw - cbb))
        crf = (
            np.repeat(np.repeat(cr2, sv_, 0), sh_, 1)[:h, :w].astype(
                np.float64
            ) - crb
        ) * (127.0 / (crw - crb))
        r = yf + crk * crf
        g = yf - gcb * cbf - gcr * crf
        bl = yf + cbk * cbf
        return np.stack(
            [np.clip(np.floor(x + 0.5), 0, 255) for x in (r, g, bl)],
            axis=-1,
        ).astype(np.uint8)

    if tiled:
        tw, th = one(322), one(323)
        if not tw or not th:
            raise ValueError("TIFF tile dimensions invalid")
        offsets = values(324)
        counts = values(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF tile tables missing or mismatched")
        ta, td = -(-w // tw), -(-h // th)
        ncomp = spp if planar == 2 else 1  # tile sets per component
        tile_ch = 1 if planar == 2 else spp
        if len(offsets) != ta * td * ncomp:
            raise ValueError("TIFF tile count does not cover the image")
        if tw * th > (1 << 24) or (
            ta * tw * td * th * spp * sb > (1 << 27)
        ):
            # the PADDED canvas (td*th x ta*tw x spp) is what gets
            # allocated — small w*h with huge tile dims must not
            # bypass the raster guard
            raise ValueError("TIFF tile grid implausibly large")
        canvas = np.zeros(
            (td * th, ta * tw, spp), np.uint8 if sb == 1 else np.uint16
        )
        # edge tiles are padded to full size; planar tile sets are
        # component-major (all of component 0, then 1, ...)
        expected = th * row_nbytes(tw, tile_ch)
        for idx, (off, cnt) in enumerate(zip(offsets, counts)):
            if comp in (2, 3, 4):
                # each fax tile is an independent coding block (G4's
                # reference line resets to all-white per tile)
                bitrows = ccitt_decode(
                    bytes(chunk_at(off, cnt)), tw, th, comp, t4_2d
                )
                buf = np.packbits(bitrows, axis=1).tobytes()
            else:
                buf = decompress(chunk_at(off, cnt), expected)
            tile = unpredict(as_pixels(buf, th, tw, tile_ch))
            c, rem = divmod(idx, ta * td)
            ty, tx = rem // ta, rem % ta
            if planar == 2:
                canvas[ty * th : (ty + 1) * th,
                       tx * tw : (tx + 1) * tw, c] = tile[..., 0]
            else:
                canvas[ty * th : (ty + 1) * th,
                       tx * tw : (tx + 1) * tw] = tile
        a = canvas[:h, :w]
    else:
        offsets = values(273)
        counts = values(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF strip tables missing or mismatched")
        rps = one(278, h)
        if rps < 1:
            raise ValueError("TIFF RowsPerStrip invalid")
        spi = -(-h // rps)  # strips per image (per component if planar)
        if len(offsets) != spi * (spp if planar == 2 else 1):
            raise ValueError("TIFF strip count does not cover the image")
        row_bytes = row_nbytes(w, spp if planar == 1 else 1)

        def assemble(strip_slice):
            raw = bytearray()
            for si, (off, cnt) in enumerate(strip_slice):
                rows_here = min(rps, h - si * rps)
                if comp in (2, 3, 4):
                    # CCITT decodes bit rows directly; re-pack MSB-first
                    # so the shared sub-byte unpack path consumes them
                    bitrows = ccitt_decode(
                        bytes(chunk_at(off, cnt)), w, rows_here, comp,
                        t4_2d,
                    )
                    raw += np.packbits(bitrows, axis=1).tobytes()
                else:
                    raw += decompress(
                        chunk_at(off, cnt), rows_here * row_bytes
                    )
            return raw

        pairs = list(zip(offsets, counts))
        if planar == 1:
            a = unpredict(as_pixels(assemble(pairs), h, w, spp))
        else:
            # PlanarConfiguration 2: component-major strip order
            planes = [
                as_pixels(assemble(pairs[c * spi : (c + 1) * spi]),
                          h, w, 1)[..., 0]
                for c in range(spp)
            ]
            a = unpredict(np.stack(planes, axis=-1))
    full = (1 << depth) - 1
    if photo in (0, 1):
        if spp != 1:
            raise ValueError("TIFF gray photometric with multiple samples")
        g = a[..., 0]
        if photo == 0:
            g = (full - g.astype(np.int32)).astype(a.dtype)
        if depth < 8:
            # expand to 8-bit: 255/(2^d - 1) is an exact integer at
            # every sub-byte depth (255, 85, 17)
            g = (g.astype(np.int32) * (255 // full)).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if photo == 2:
        if spp < 3:
            raise ValueError("TIFF RGB photometric with <3 samples")
        rgb = np.ascontiguousarray(a[..., :3])  # extra samples dropped
        if depth < 8:
            rgb = (rgb.astype(np.int32) * (255 // full)).astype(np.uint8)
        return rgb
    if photo == 5:
        # CMYK (ink coverage): the naive uncalibrated conversion
        # every library defaults to for profile-less files —
        # channel = (full - ink) * (full - K) / full, floor division
        # (operands non-negative, so C-trunc == floor == DuckDB //);
        # sub-byte separations expand by the exact 255/(2^d - 1)
        # after the conversion
        if spp < 4:
            raise ValueError("TIFF CMYK photometric with <4 samples")
        ink = a.astype(np.int64)
        kk = full - ink[..., 3]
        chans = [((full - ink[..., j]) * kk) // full for j in range(3)]
        if depth < 8:
            chans = [c2 * (255 // full) for c2 in chans]
            return np.stack(chans, axis=-1).astype(np.uint8)
        return np.stack(chans, axis=-1).astype(a.dtype)
    if photo == 3:
        if spp != 1:
            raise ValueError("TIFF palette photometric with multiple samples")
        # 8-bit output takes the high byte of each 16-bit ColorMap
        # entry; depth 16 means the full 65536-entry table (the
        # gate retired round 9)
        n_pal = 1 << depth
        cmap = values(320)
        if cmap is None or len(cmap) != 3 * n_pal:
            raise ValueError("TIFF ColorMap missing or wrong size")
        pal = (np.array(cmap, np.uint16).reshape(3, n_pal).T >> 8).astype(
            np.uint8
        )
        return pal[a[..., 0].reshape(-1).astype(np.int64)].reshape(h, w, 3)
    require_codec(f"TIFF photometric {photo}")


def decode_tiff_float(b: bytes):
    """Floating-point TIFF (SampleFormat 3 — the elevation/HDR
    class) -> (h, w, spp) float64 array, spp 1 or 3. Strip- or
    tile-organized, chunky or planar (round 10), 32- or 64-bit
    samples, both byte orders, the four baseline codecs, and the
    floating-point horizontal predictor (TechNote 3, tag 317=3:
    per-row MSB-first byte-plane shuffle + bytewise differencing,
    restarting per segment — round 10). There is no canonical 8-bit
    rendering for float rasters, so this is a SEPARATE entry point
    from ``decode_tiff`` — census kernels surface the values through
    the house float micro-quantization discipline instead."""
    import numpy as np

    if len(b) < 8:
        raise ValueError("TIFF header truncated")
    if b[:4] == b"II\x2a\x00":
        e = "<"
    elif b[:4] == b"MM\x00\x2a":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(e + "I", b, 4)
    entries = _tiff_ifd_entries(b, e, ifd_off)

    def values(tag, default=None):
        return _tiff_entry_values(entries, e, b, tag, default)

    def one(tag, default=None):
        v = values(tag, None)
        return default if v is None else v[0]

    w, h = one(256), one(257)
    if not w or not h:
        raise ValueError("TIFF missing dimensions")
    spp = one(277, 1)
    if spp not in (1, 3):
        raise ValueError("float TIFF SamplesPerPixel unsupported")
    bits = values(258, [32] * spp)
    sfmt = values(339, [1] * spp)
    if any(v != 3 for v in sfmt):
        raise ValueError("decode_tiff_float expects SampleFormat 3")
    if not all(v == bits[0] for v in bits) or bits[0] not in (32, 64):
        require_codec(f"float TIFF bits per sample {bits}")
    sb = bits[0] // 8
    comp = one(259, 1)
    if comp not in (1, 5, 8, 32773, 32946):
        require_codec(f"float TIFF compression {comp}")
    photo = one(262, 1)
    if photo not in (1, 2):
        require_codec(f"float TIFF photometric {photo}")
    pred = one(317, 1)
    if pred == 2:
        raise ValueError("float TIFF with integer predictor")
    if pred not in (1, 3):
        raise ValueError("TIFF predictor unrecognized")
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError("TIFF planar configuration unrecognized")
    nplanes = spp if planar == 2 else 1
    seg_spp = 1 if planar == 2 else spp
    tiled = 322 in entries or 323 in entries

    def decompress(chunk, expected):
        return _tiff_decompress_segment(chunk, expected, comp)

    def seg_floats(raw, n_rows, n_vals):
        """Decoded segment bytes -> (n_rows, n_vals) float64. With
        the floating-point predictor (TechNote 3) each row is a
        byte-plane shuffle (MSB plane first, INDEPENDENT of file
        endianness) of the big-endian value bytes, horizontally
        differenced bytewise — inverted here as a vectorized
        per-row cumsum mod 256 + plane gather."""
        buf = np.frombuffer(raw, np.uint8).reshape(n_rows, n_vals * sb)
        if pred == 3:
            acc = (np.cumsum(buf, axis=1, dtype=np.uint64)
                   & 0xFF).astype(np.uint8)
            planes = acc.reshape(n_rows, sb, n_vals)
            be = np.ascontiguousarray(np.moveaxis(planes, 1, 2))
            vals = be.reshape(n_rows, n_vals * sb).view(f">f{sb}")
        else:
            vals = buf.view(e + f"f{sb}")
        # corrupt bytes can form signaling NaNs; the isfinite check
        # at the end is the loud path, not a cast warning here
        with np.errstate(invalid="ignore"):
            return vals.astype(np.float64)

    out = np.empty((h, w, spp), np.float64)
    if tiled:
        tw, th = one(322, 0), one(323, 0)
        if not tw or not th:
            raise ValueError("TIFF tile dimensions missing")
        across, down = -(-w // tw), -(-h // th)
        # bound the PADDED canvas, not w*h — tile grids allocate it
        if across * tw * down * th * spp * sb > (1 << 27):
            raise ValueError("TIFF raster implausibly large")
        offsets = values(324)
        counts = values(325)
        if not offsets or not counts or len(offsets) != len(counts) \
                or len(offsets) != across * down * nplanes:
            raise ValueError("TIFF tile tables missing or mismatched")
        for p in range(nplanes):
            for ty in range(down):
                for tx in range(across):
                    k = p * across * down + ty * across + tx
                    off, cnt = offsets[k], counts[k]
                    if off + cnt > len(b):
                        raise ValueError("TIFF tile out of range")
                    expected = th * tw * seg_spp * sb
                    vals = seg_floats(
                        decompress(b[off : off + cnt], expected),
                        th, tw * seg_spp,
                    ).reshape(th, tw, seg_spp)
                    ch = min(th, h - ty * th)
                    cw = min(tw, w - tx * tw)
                    dst = out[ty * th : ty * th + ch,
                              tx * tw : tx * tw + cw]
                    if planar == 2:
                        dst[..., p] = vals[:ch, :cw, 0]
                    else:
                        dst[:] = vals[:ch, :cw]
    else:
        if w * h * spp * sb > (1 << 27):
            raise ValueError("TIFF raster implausibly large")
        offsets = values(273)
        counts = values(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF strip tables missing or mismatched")
        rps = one(278, h)
        spp_strips = -(-h // rps) if rps >= 1 else 0
        if rps < 1 or len(offsets) != spp_strips * nplanes:
            raise ValueError("TIFF strip layout invalid")
        for p in range(nplanes):
            for si in range(spp_strips):
                off = offsets[p * spp_strips + si]
                cnt = counts[p * spp_strips + si]
                if off + cnt > len(b):
                    raise ValueError("TIFF strip out of range")
                n_rows = min(rps, h - si * rps)
                expected = n_rows * w * seg_spp * sb
                vals = seg_floats(
                    decompress(b[off : off + cnt], expected),
                    n_rows, w * seg_spp,
                ).reshape(n_rows, w, seg_spp)
                dst = out[si * rps : si * rps + n_rows]
                if planar == 2:
                    dst[..., p] = vals[..., 0]
                else:
                    dst[:] = vals
    if not np.isfinite(out).all():
        raise ValueError("float TIFF carries non-finite samples")
    return out


def encode_tiff_float(
    arr,
    compression: str = "none",
    big_endian: bool = False,
    rows_per_strip: int = 0,
    f64: bool = False,
    predictor: bool = False,
    tile: tuple | None = None,
    planar: bool = False,
) -> bytes:
    """(h, w) gray / (h, w, 3) RGB float array -> SampleFormat-3
    TIFF at 32- or 64-bit samples. ``predictor`` applies the
    TechNote-3 floating-point horizontal predictor (tag 317=3);
    ``tile=(tw, th)`` emits a tile grid; ``planar`` stores each
    component in its own segment sequence — all three compose."""
    import numpy as np
    import zlib

    e = ">" if big_endian else "<"
    a = np.asarray(arr, np.float64)
    if a.ndim == 2:
        a = a[..., None]
    h, w, spp = a.shape
    assert spp in (1, 3)
    sb = 8 if f64 else 4
    photo = 1 if spp == 1 else 2
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}[
        compression
    ]

    def compress(raw):
        if comp_code == 1:
            return raw
        if comp_code == 32773:
            return _packbits_encode(raw)
        if comp_code == 5:
            return _tiff_lzw_encode(raw)
        return zlib.compress(raw, 6)

    def seg_bytes(vals):
        """(rows, n_vals) float block -> raw segment bytes, applying
        the fp predictor's per-row plane shuffle + differencing."""
        n_rows, n_vals = vals.shape
        if predictor:
            be = np.ascontiguousarray(vals.astype(f">f{sb}")).view(
                np.uint8
            ).reshape(n_rows, n_vals, sb)
            planes = np.ascontiguousarray(
                np.moveaxis(be, 2, 1)
            ).reshape(n_rows, n_vals * sb).astype(np.int16)
            planes[:, 1:] -= planes[:, :-1].copy()
            return (planes & 0xFF).astype(np.uint8).tobytes()
        return np.ascontiguousarray(vals.astype(e + f"f{sb}")).tobytes()

    nplanes = spp if planar else 1
    segs = []
    if tile:
        tw, th = tile
        across, down = -(-w // tw), -(-h // th)
        padded = np.zeros((down * th, across * tw, spp), np.float64)
        padded[:h, :w] = a
        for p in range(nplanes):
            for ty in range(down):
                for tx in range(across):
                    blk = padded[ty * th : (ty + 1) * th,
                                 tx * tw : (tx + 1) * tw]
                    blk = blk[..., p : p + 1] if planar else blk
                    segs.append(
                        compress(seg_bytes(blk.reshape(th, -1)))
                    )
    else:
        rps = rows_per_strip or h
        for p in range(nplanes):
            for y0 in range(0, h, rps):
                blk = a[y0 : y0 + rps]
                blk = blk[..., p : p + 1] if planar else blk
                segs.append(
                    compress(seg_bytes(blk.reshape(blk.shape[0], -1)))
                )
    body = bytearray()
    offsets = []
    for s in segs:
        offsets.append(8 + len(body))
        body += s
        if len(body) % 2:
            body += b"\x00"
    ifd_off = 8 + len(body)
    tags = [
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [8 * sb] * spp),
        (259, 3, [comp_code]),
        (262, 3, [photo]),
        (277, 3, [spp]),
        (339, 3, [3] * spp),
    ]
    if predictor:
        tags.append((317, 3, [3]))
    if planar:
        tags.append((284, 3, [2]))
    if tile:
        tags += [
            (322, 3, [tile[0]]),
            (323, 3, [tile[1]]),
            (324, 4, offsets),
            (325, 4, [len(s) for s in segs]),
        ]
    else:
        tags += [
            (273, 4, offsets),
            (278, 3, [min(rows_per_strip or h, h)]),
            (279, 4, [len(s) for s in segs]),
        ]
    tags.sort()
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_off
    )
    return bytes(header + body) + _tiff_ifd(e, tags, ifd_off)


def _tiff_ifd(e: str, tags: list, data_off: int, next_off: int = 0) -> bytes:
    """Assemble an IFD: ``tags`` is [(tag, typ, values)] sorted by
    tag; out-of-line value arrays land after the entry table.
    ``next_off`` chains multi-page IFDs (0 terminates)."""
    n = len(tags)
    extra = bytearray()
    entries = b""
    extra_base = data_off + 2 + 12 * n + 4
    for tag, typ, vals in tags:
        size = _TIFF_TYPE_SIZE[typ]
        fmt = {1: "B", 3: "H", 4: "I", 5: "I", 7: "B"}[typ]
        payload = struct.pack(e + fmt * len(vals), *vals)
        # RATIONAL (5) takes flattened num/den pairs; the entry
        # count is in rationals, not longs
        cnt = len(vals) // 2 if typ == 5 else len(vals)
        if len(payload) <= 4:
            val4 = payload + b"\x00" * (4 - len(payload))
        else:
            val4 = struct.pack(e + "I", extra_base + len(extra))
            extra += payload
        entries += struct.pack(e + "HHI", tag, typ, cnt) + val4
    return (
        struct.pack(e + "H", n) + entries + struct.pack(e + "I", next_off)
        + extra
    )


def encode_tiff(
    arr,
    compression: str = "none",
    big_endian: bool = False,
    predictor: bool = False,
    rows_per_strip: int = 0,
    palette=None,
    white_is_zero: bool = False,
    tile=None,
    planar: bool = False,
    depth: int = 0,
    ccitt_uncompressed: bool = False,
) -> bytes:
    """(h, w, 3) RGB / (h, w) gray, uint8 or uint16 — or (h, w)
    uint8 indices with ``palette`` (256, 3) — -> strip-organized
    TIFF. ``compression``: 'none' | 'packbits' | 'lzw' | 'deflate'.
    ``predictor`` applies horizontal differencing (tag 317 = 2).
    ``white_is_zero`` emits photometric 0 with inverted gray
    samples. uint16 input emits BitsPerSample 16 with samples in the
    file's byte order. ``tile=(tw, th)`` emits the tiled layout
    (tags 322-325; edge tiles padded to full size, dims should be
    multiples of 16 per the spec). ``planar`` emits
    PlanarConfiguration 2 (component-major strips). ``depth`` in
    (1, 2, 4) packs a 2-D gray/index plane (values < 2^depth) as
    MSB-first sub-byte samples, rows padded to byte boundaries."""
    import numpy as np
    import zlib

    e = ">" if big_endian else "<"
    a = np.asarray(arr)
    assert a.dtype in (np.uint8, np.uint16), "TIFF encoder: uint8/uint16"
    sb = a.dtype.itemsize
    d_eff = depth or 8 * sb
    assert depth in (0, 1, 2, 4) or depth == 8 * sb, (
        "explicit TIFF depth must be sub-byte or match the dtype width"
    )
    assert d_eff in (1, 2, 4, 8, 16), "TIFF depth must be 1/2/4/8/16"
    if d_eff < 8:
        assert (
            a.ndim == 2 or (a.ndim == 3 and a.shape[2] == 4)
        ) and sb == 1 and int(a.max(initial=0)) < (1 << d_eff), (
            "sub-byte TIFF expects a 2-D plane or CMYK separations "
            "of values < 2^depth"
        )
        assert not predictor, "TIFF predictor needs 8/16-bit samples"
    full = (1 << d_eff) - 1
    if palette is not None:
        assert a.ndim == 2, "palette TIFF expects index planes"
        h, w = a.shape
        spp, photo = 1, 3
    elif a.ndim == 2:
        h, w = a.shape
        spp, photo = 1, (0 if white_is_zero else 1)
        if white_is_zero:
            a = (full - a.astype(np.int32)).astype(a.dtype)
    else:
        h, w, c = a.shape
        assert c in (3, 4), "TIFF encoder expects RGB or CMYK"
        spp, photo = c, (2 if c == 3 else 5)
    rps = rows_per_strip or h
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
                 "ccitt_mh": 2, "g3": 3, "g3_2d": 3, "g4": 4}[compression]
    ccitt_2d = compression == "g3_2d"
    if comp_code in (2, 3, 4):
        assert d_eff == 1 and spp == 1, "CCITT expects a bilevel plane"
        assert not planar and not predictor, (
            "CCITT emits chunky layout only"
        )
        assert not (ccitt_uncompressed and comp_code == 2), (
            "uncompressed mode is a 2-D coding extension"
        )
    else:
        assert not ccitt_uncompressed
    plane = a.reshape(h, w, spp)

    def diff(arr3d):
        if not predictor:
            return arr3d
        d = arr3d.astype(np.int32)
        d[:, 1:, :] -= d[:, :-1, :].copy()
        return (d % (full + 1)).astype(a.dtype)

    if tile is None:
        # strips never split a row, so differencing the whole plane
        # equals per-strip differencing; tiles DO split rows, so the
        # tiled path differences each tile independently below
        plane = diff(plane)

    def serialize(arr3d):
        if d_eff < 8:
            # same MSB-first row packing PNG uses (np.packbits pads
            # each row to a byte boundary itself); multi-sample
            # pixels pack their interleaved sample sequence
            return _pack_sample_rows(
                arr3d.reshape(arr3d.shape[0], -1), d_eff
            )
        return np.ascontiguousarray(
            arr3d.astype(e + f"u{sb}")
        ).view(np.uint8).reshape(arr3d.shape[0], -1)

    def compress(raw):
        if comp_code == 1:
            return raw
        if comp_code == 32773:
            return _packbits_encode(raw)
        if comp_code == 5:
            return _tiff_lzw_encode(raw)
        return zlib.compress(raw, 6)

    strips = []
    if tile is not None:
        tw, th = tile
        ta, td = -(-w // tw), -(-h // th)
        padded = np.zeros((td * th, ta * tw, spp), plane.dtype)
        padded[:h, :w] = plane
        # planar tiled layout: a full tile grid per component,
        # component-major (mirrors the decoder's tile-set order)
        comps_iter = range(spp) if planar else (None,)
        for c in comps_iter:
            for ty in range(td):
                for tx in range(ta):
                    t = padded[ty * th : (ty + 1) * th,
                               tx * tw : (tx + 1) * tw]
                    if c is not None:
                        t = t[:, :, c : c + 1]
                    if comp_code in (2, 3, 4):
                        # fax tiles: independent coding blocks
                        strips.append(ccitt_encode(
                            t[:, :, 0], comp_code, t4_2d=ccitt_2d,
                            uncompressed=ccitt_uncompressed,
                        ))
                    else:
                        strips.append(
                            compress(serialize(diff(t)).tobytes())
                        )
    elif planar:
        assert spp == 3, "planar layout needs 3 components"
        for c in range(spp):
            for y0 in range(0, h, rps):
                strips.append(compress(
                    serialize(plane[y0 : y0 + rps, :, c : c + 1]).tobytes()
                ))
    elif comp_code in (2, 3, 4):
        # CCITT codes runs from the bit plane itself; each strip is an
        # independent coding block (G4's reference line resets white)
        for y0 in range(0, h, rps):
            strips.append(
                ccitt_encode(plane[y0 : y0 + rps, :, 0], comp_code,
                             t4_2d=ccitt_2d,
                             uncompressed=ccitt_uncompressed)
            )
    else:
        rows = serialize(plane)
        for y0 in range(0, h, rps):
            strips.append(compress(rows[y0 : y0 + rps].tobytes()))
    body = bytearray()
    offsets = []
    for s in strips:
        offsets.append(8 + len(body))
        body += s
        if len(body) % 2:
            body += b"\x00"  # word-align the next strip
    ifd_off = 8 + len(body)
    tags = [
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [d_eff] * spp),
        (259, 3, [comp_code]),
        (262, 3, [photo]),
        (277, 3, [spp]),
    ]
    if tile is not None:
        tags += [
            (322, 3, [tw]),
            (323, 3, [th]),
            (324, 4, offsets),
            (325, 4, [len(s) for s in strips]),
        ]
    else:
        tags += [
            (273, 4, offsets),
            (278, 3, [min(rps, h)]),
            (279, 4, [len(s) for s in strips]),
        ]
    if planar:
        tags.append((284, 3, [2]))
    if predictor:
        tags.append((317, 3, [2]))
    if comp_code == 3:
        t4o = (1 if ccitt_2d else 0) | (2 if ccitt_uncompressed else 0)
        tags.append((292, 4, [t4o]))  # T4Options
    elif comp_code == 4:
        tags.append((293, 4, [2 if ccitt_uncompressed else 0])
                    )  # T6Options
    if palette is not None:
        pal = np.asarray(palette, np.uint8)
        assert pal.shape == (1 << d_eff, 3), "TIFF palette must be 2^depth x3"
        cmap = (pal.astype(np.uint16) * 257).T.reshape(-1)
        tags.append((320, 3, [int(v) for v in cmap]))
    tags.sort(key=lambda t: t[0])
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_off
    )
    return bytes(header + body) + _tiff_ifd(e, tags, ifd_off)


def _ycbcr_inverse_consts(co):
    """Tag 529 (YCbCrCoefficients, RATIONAL x3 flattened to 6 longs)
    -> the inverse-transform constants (crk, cbk, gcr, gcb):

        R = Y + crk*Cr    crk = 2*(1 - lr)
        B = Y + cbk*Cb    cbk = 2*(1 - lb)
        G = (Y - lr*R - lb*B) / lg = Y - gcb*Cb - gcr*Cr
            gcr = lr*crk/lg,  gcb = lb*cbk/lg

    The default CCIR-601 triple (299/1000, 587/1000, 114/1000) —
    or an absent tag — returns the LITERAL constants the closed-form
    oracles pin (1.402 / 1.772 / 0.714136286 / 0.344136286), so
    default files stay bit-identical to the pre-tag path; any other
    triple feeds the general inverse. Malformed, degenerate
    (lg == 0), or NON-NORMALIZED (lr+lg+lb != 1) tags are loud: the
    G derivation below substitutes Y = lr*R + lg*G + lb*B, which
    only holds when the weights sum to 1, so a non-normalized triple
    would silently decode a wrong green channel (round-13 advice
    fix). The sum check is exact — cross-multiplied integer
    rationals, no float tolerance."""
    if co is None or co == [299, 1000, 587, 1000, 114, 1000]:
        return 1.402, 1.772, 0.714136286, 0.344136286
    if len(co) != 6 or any(d == 0 for d in co[1::2]):
        raise ValueError("TIFF YCbCrCoefficients malformed")
    # lr + lg + lb == 1, exactly: n0/d0 + n1/d1 + n2/d2 == 1  <=>
    # n0*d1*d2 + n1*d0*d2 + n2*d0*d1 == d0*d1*d2 (ints, no rounding)
    if (
        co[0] * co[3] * co[5]
        + co[2] * co[1] * co[5]
        + co[4] * co[1] * co[3]
        != co[1] * co[3] * co[5]
    ):
        raise ValueError(
            "TIFF YCbCrCoefficients not normalized (lr+lg+lb != 1)"
        )
    lr, lg, lb = (co[0] / co[1], co[2] / co[3], co[4] / co[5])
    if lg == 0:
        raise ValueError("TIFF YCbCrCoefficients degenerate (lg == 0)")
    crk, cbk = 2.0 * (1.0 - lr), 2.0 * (1.0 - lb)
    return crk, cbk, lr * crk / lg, lb * cbk / lg


def encode_tiff_ycbcr(
    yp,
    cb,
    cr,
    subsampling=(2, 2),
    compression: str = "none",
    big_endian: bool = False,
    rows_per_strip: int = 0,
    rbw=None,
    planar: bool = False,
    tile=None,
    luma=None,
) -> bytes:
    """Full-res Y plane (h, w) + SUBSAMPLED Cb/Cr planes
    (ceil(h/sv), ceil(w/sh)), all uint8 -> photometric-6 TIFF with
    chunky sh*sv-Y + Cb + Cr data units (TIFF 6.0 §21), edge units
    padded by edge replication (pad samples are ignored on decode).
    ``rows_per_strip`` must be a multiple of sv when it splits the
    image. ``rbw`` writes a ReferenceBlackWhite tag (532, RATIONAL
    x6) as 12 flattened num/den longs — the video-range headroom
    layout (round 11). Round-12 organization knobs: ``planar``
    stores PlanarConfiguration 2 — three PLAIN rasters (no data-unit
    interleave, §21), chroma strip/tile sets covering the subsampled
    plane dims; ``tile=(tw, th)`` (tw/th multiples of sh/sv) emits
    the tiled layout (tags 322-325) — data-unit grids when chunky,
    per-plane raster grids when planar; ``luma`` writes a
    YCbCrCoefficients tag (529, RATIONAL x3) as 6 flattened
    num/den longs feeding the decoder's general inverse."""
    import numpy as np
    import zlib

    e = ">" if big_endian else "<"
    y = np.asarray(yp, np.uint8)
    cbp = np.asarray(cb, np.uint8)
    crp = np.asarray(cr, np.uint8)
    sh_, sv_ = subsampling
    assert sh_ in (1, 2, 4) and sv_ in (1, 2, 4), "subsampling 1/2/4"
    h, w = y.shape
    ta, td = -(-w // sh_), -(-h // sv_)
    assert cbp.shape == (td, ta) and crp.shape == (td, ta), (
        "chroma planes must be at subsampled resolution"
    )
    rps = rows_per_strip or h
    if rps < h:
        assert rps % sv_ == 0, "rows_per_strip must be a multiple of sv"
    ypad = np.empty((td * sv_, ta * sh_), np.uint8)
    ypad[:h, :w] = y
    if w < ta * sh_:
        ypad[:h, w:] = y[:, w - 1 : w]
    if h < td * sv_:
        ypad[h:, :] = ypad[h - 1 : h, :]
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}[
        compression
    ]

    def compress(raw: bytes) -> bytes:
        if comp_code == 1:
            return raw
        if comp_code == 32773:
            return _packbits_encode(raw)
        if comp_code == 5:
            return _tiff_lzw_encode(raw)
        return zlib.compress(raw, 6)

    def pad_to(plane, gh, gw):
        # edge-replicate a raster out to a grid-multiple canvas
        ph, pw = plane.shape
        if (ph, pw) == (gh, gw):
            return plane
        padded = np.empty((gh, gw), np.uint8)
        padded[:ph, :pw] = plane
        if pw < gw:
            padded[:ph, pw:] = plane[:, pw - 1 : pw]
        if ph < gh:
            padded[ph:] = padded[ph - 1 : ph]
        return padded

    def unit_body(ytile, cbt, crt, ud, ua):
        # one data-unit grid body: sh*sv Y samples + Cb + Cr per unit
        unit_rows = ytile.reshape(ud, sv_, ua, sh_).transpose(0, 2, 1, 3)
        return np.concatenate(
            [
                unit_rows.reshape(ud, ua, sv_ * sh_),
                cbt[:, :, None],
                crt[:, :, None],
            ],
            axis=-1,
        ).tobytes()

    strips = []
    if tile is not None:
        tw, th = tile
        assert tw % sh_ == 0 and th % sv_ == 0, (
            "tile dims must be multiples of the subsampling"
        )
        ta_t, td_t = -(-w // tw), -(-h // th)
        if planar:
            # per-plane raster grids: Y over (h, w), each chroma over
            # its SUBSAMPLED dims (td, ta) with its own grid
            for plane in (np.asarray(yp, np.uint8), cbp, crp):
                ph, pw = plane.shape
                ga, gd = -(-pw // tw), -(-ph // th)
                padded = pad_to(plane, gd * th, ga * tw)
                for ty in range(gd):
                    for tx in range(ga):
                        strips.append(compress(
                            padded[ty * th : (ty + 1) * th,
                                   tx * tw : (tx + 1) * tw].tobytes()
                        ))
        else:
            ua_t, ud_t = tw // sh_, th // sv_
            ypad2 = pad_to(ypad, td_t * th, ta_t * tw)
            cbpad = pad_to(cbp, td_t * ud_t, ta_t * ua_t)
            crpad = pad_to(crp, td_t * ud_t, ta_t * ua_t)
            for ty in range(td_t):
                for tx in range(ta_t):
                    strips.append(compress(unit_body(
                        ypad2[ty * th : (ty + 1) * th,
                              tx * tw : (tx + 1) * tw],
                        cbpad[ty * ud_t : (ty + 1) * ud_t,
                              tx * ua_t : (tx + 1) * ua_t],
                        crpad[ty * ud_t : (ty + 1) * ud_t,
                              tx * ua_t : (tx + 1) * ua_t],
                        ud_t, ua_t,
                    )))
    elif planar:
        # component-major plain-raster strip sets: Y rows [s*rps,
        # s*rps+rps), chroma rows ceil-divided by sv for the SAME
        # image rows (rps % sv == 0 guaranteed above when multi-strip)
        per_plane = -(-h // rps)
        yraw = np.asarray(yp, np.uint8)
        for plane, vstep in ((yraw, 1), (cbp, sv_), (crp, sv_)):
            for s in range(per_plane):
                rows_img = min(rps, h - s * rps)
                r0 = s * rps // vstep
                rn = -(-rows_img // vstep)
                strips.append(compress(plane[r0 : r0 + rn].tobytes()))
    else:
        for y0 in range(0, h, rps):
            rows_here = min(rps, h - y0)
            td_s = -(-rows_here // sv_)
            strips.append(compress(unit_body(
                ypad[y0 : y0 + td_s * sv_],
                cbp[y0 // sv_ : y0 // sv_ + td_s],
                crp[y0 // sv_ : y0 // sv_ + td_s],
                td_s, ta,
            )))
    out_body = bytearray()
    offsets = []
    for s in strips:
        offsets.append(8 + len(out_body))
        out_body += s
        if len(out_body) % 2:
            out_body += b"\x00"
    ifd_off = 8 + len(out_body)
    tags = [
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [8, 8, 8]),
        (259, 3, [comp_code]),
        (262, 3, [6]),
        (277, 3, [3]),
        (530, 3, [sh_, sv_]),
    ]
    if tile is not None:
        tags += [
            (322, 3, [tw]),
            (323, 3, [th]),
            (324, 4, offsets),
            (325, 4, [len(s) for s in strips]),
        ]
    else:
        tags += [
            (273, 4, offsets),
            (278, 3, [min(rps, h)]),
            (279, 4, [len(s) for s in strips]),
        ]
    if planar:
        tags.append((284, 3, [2]))
    if luma is not None:
        assert len(luma) == 6, "luma: 3 rationals as 6 flattened longs"
        tags.append((529, 5, list(luma)))
    if rbw is not None:
        assert len(rbw) == 12, "rbw: 6 rationals as 12 flattened longs"
        tags.append((532, 5, list(rbw)))
    tags.sort(key=lambda t: t[0])
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_off
    )
    return bytes(header + out_body) + _tiff_ifd(e, tags, ifd_off)


def decode_tiff_pages(b: bytes):
    """Multi-page TIFF -> list of (h, w, 3) arrays, one per IFD in
    the chain (scanned-document corpora ship pages this way;
    ``decode_tiff`` alone reads page 1, the convention single-image
    callers expect). Each page is decoded by rewriting the 8-byte
    header to point at that page's IFD — entry and strip offsets are
    absolute, so the rest of the buffer reads unchanged. Chain loops
    and implausible page counts raise ValueError."""
    if b[:4] == b"II\x2a\x00":
        e = "<"
    elif b[:4] == b"MM\x00\x2a":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    if len(b) < 8:
        raise ValueError("TIFF header truncated")
    (ifd_off,) = struct.unpack_from(e + "I", b, 4)
    pages = []
    seen = set()
    while ifd_off:
        if ifd_off in seen:
            raise ValueError("TIFF IFD chain loops")
        seen.add(ifd_off)
        if len(pages) >= 64:
            raise ValueError("TIFF page count implausible")
        if ifd_off + 2 > len(b):
            raise ValueError("TIFF IFD offset out of range")
        patched = b[:4] + struct.pack(e + "I", ifd_off) + b[8:]
        pages.append(decode_tiff(patched))
        (n_ent,) = struct.unpack_from(e + "H", b, ifd_off)
        next_at = ifd_off + 2 + 12 * n_ent
        if next_at + 4 > len(b):
            raise ValueError("TIFF IFD truncated")
        (ifd_off,) = struct.unpack_from(e + "I", b, next_at)
    if not pages:
        raise ValueError("TIFF has no pages")
    return pages


def encode_tiff_multipage(
    pages,
    compression: str = "none",
    big_endian: bool = False,
    rows_per_strip: int = 0,
) -> bytes:
    """List of (h, w, 3) RGB / (h, w) gray uint8 arrays -> one TIFF
    with a chained IFD per page (dims may differ per page). 8-bit
    chunky strips at the four baseline codecs; page data first, then
    the IFD chain."""
    import numpy as np
    import zlib

    e = ">" if big_endian else "<"
    comp_code = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8}[
        compression
    ]

    def compress(raw: bytes) -> bytes:
        if comp_code == 1:
            return raw
        if comp_code == 32773:
            return _packbits_encode(raw)
        if comp_code == 5:
            return _tiff_lzw_encode(raw)
        return zlib.compress(raw, 6)

    body = bytearray()
    page_tags = []
    for arr in pages:
        a = np.asarray(arr, np.uint8)
        gray = a.ndim == 2
        h, w = a.shape[:2]
        spp, photo = (1, 1) if gray else (3, 2)
        plane = a.reshape(h, w, spp)
        rps = rows_per_strip or h
        rows_b = np.ascontiguousarray(plane).reshape(h, -1)
        offsets, counts = [], []
        for y0 in range(0, h, rps):
            s = compress(rows_b[y0 : y0 + rps].tobytes())
            offsets.append(8 + len(body))
            counts.append(len(s))
            body += s
            if len(body) % 2:
                body += b"\x00"
        page_tags.append([
            (256, 3, [w]),
            (257, 3, [h]),
            (258, 3, [8] * spp),
            (259, 3, [comp_code]),
            (262, 3, [photo]),
            (273, 4, offsets),
            (277, 3, [spp]),
            (278, 3, [min(rps, h)]),
            (279, 4, counts),
        ])
    out = bytearray(
        (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, 0)
    )
    out += body
    pos = 8 + len(body)
    for k, tags in enumerate(page_tags):
        length = len(_tiff_ifd(e, tags, pos, 0))
        nxt = pos + length if k + 1 < len(page_tags) else 0
        if k == 0:
            out[4:8] = struct.pack(e + "I", pos)
        out += _tiff_ifd(e, tags, pos, nxt)
        pos += length
    return bytes(out)


def _jpeg_split_tables(b: bytes):
    """Split a complete JPEG interchange stream into (tables,
    abbreviated_stream): DQT/DHT segments go to the JPEGTables side,
    everything else (SOF/SOS/entropy/EOI) stays — the TIFF TechNote 2
    abbreviated-stream layout."""
    tables = bytearray()
    rest = bytearray()
    for marker, payload, scan in _jpg_segments(b):
        seg = _jpg_seg(marker, payload)
        if marker in (0xDB, 0xC4):
            tables += seg
        else:
            rest += seg
        if scan is not None:
            rest += b[scan.start :]  # entropy-coded data + EOI
            break
    return (b"\xff\xd8" + bytes(tables) + b"\xff\xd9",
            b"\xff\xd8" + bytes(rest))


def _jpeg_dissect(stream: bytes) -> dict:
    """Split an ``encode_jpeg`` stream (one table per DQT/DHT
    segment) into the pieces the per-strip old-style TIFF layout
    stores separately: quant-table payloads by id (64 zigzag bytes,
    Pq=0 only), DC/AC Huffman payloads by id (16 BITS counts +
    values), the SOF component list (id, samp, tq), the SOS table
    selectors, the DRI interval, and the raw entropy-coded bytes."""
    out = {"q": {}, "dc": {}, "ac": {}, "comps": [], "sos": [],
           "dri": 0, "entropy": b""}
    for marker, payload, scan in _jpg_segments(stream):
        if marker == 0xDB:
            assert payload[0] >> 4 == 0, "per-strip layout stores 8-bit tables"
            out["q"][payload[0]] = bytes(payload[1:])
        elif marker == 0xC4:
            kind = "dc" if payload[0] >> 4 == 0 else "ac"
            out[kind][payload[0] & 0x0F] = bytes(payload[1:])
        elif marker == 0xDD:
            out["dri"] = _jpg_parse_dri(payload)
        elif marker == 0xC0:
            out["comps"] = [
                (cid, hi << 4 | vi, tq)
                for cid, tq, hi, vi in _jpg_parse_sof(payload)[3]
            ]
        elif scan is not None:
            out["sos"] = list(payload[2 : 2 + 2 * payload[0] : 2])
            out["entropy"] = bytes(stream[scan])
            return out
    raise AssertionError("no SOS in stream")


def encode_tiff_jpeg(
    arr,
    quality: int = 90,
    rows_per_strip: int = 0,
    big_endian: bool = False,
    jpeg_tables: bool = False,
    old_style: bool = False,
    rgb_space: bool = False,
    tile=None,
    planar: bool = False,
    adobe_transform=None,
    subsampling=None,
    per_strip_tables: bool = False,
    restart_interval: int = 0,
    arith: bool = False,
) -> bytes:
    """(h, w, 3) RGB (photometric 6 — encode_jpeg stores YCbCr — or
    photometric 2 with ``rgb_space``: each strip/tile an RGB-space
    scan, no color transform, round 11) or (h, w) gray (photometric
    1) -> compression-7 JPEG-in-TIFF. Each strip/tile is an
    independently decodable JPEG; ``jpeg_tables`` moves the shared
    DQT/DHT into the JPEGTables tag and ships abbreviated streams.
    ``rows_per_strip`` must be an MCU multiple (8 here: gray and
    4:4:4 only). ``tile=(tw, th)`` emits the TILED layout (tags
    322-325, dims multiples of 8/16, edge tiles padded by edge
    replication — pad pixels are cropped on decode). ``planar``
    stores PlanarConfiguration 2: each component's strips/tiles are
    independent single-component JPEG streams, component-major —
    RGB-space planes with ``rgb_space``, ink planes for CMYK input,
    or (round 12) photometric-6 Y/Cb/Cr planes with the forward
    CCIR-601 transform and ``subsampling=(sh, sv)`` top-left-sampled
    chroma planes at the TIFF 6.0 §21 SUBSAMPLED dims (tag 530
    written explicitly; chroma strips carry rows_per_strip/sv plane
    rows, so ``rows_per_strip`` must also be a multiple of 8*sv;
    with ``tile`` each plane covers its own dims with its own tile
    grid — round 12, the last JPEG-in-TIFF organization). ``old_style`` emits the deprecated
    compression-6 layout instead (TIFF 6.0 §22): ONE full
    interchange stream pointed at by JPEGInterchangeFormat/Length
    (513/514), no strips — the layout old files in the wild
    actually carry. ``arith`` (round 12) encodes every segment as a
    SOF9 ARITHMETIC interchange stream (TechNote 2 allows any
    T.81-legal JPEG; decode_jpeg's 0xC9 dispatch reads them back) —
    gray or chunky-YCbCr strips/tiles only (no shared-tables
    abbreviation: arithmetic streams carry no DHT and the DAC/DQT
    stay per-segment)."""
    import numpy as np

    e = ">" if big_endian else "<"
    a = np.asarray(arr, np.uint8)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    if gray:
        spp, photo = 1, 1
    elif a.shape[2] == 4:
        assert planar or rgb_space or adobe_transform == 2 or arith, (
            "chunky CMYK JPEG-in-TIFF needs rgb_space or YCCK scans"
        )
        spp, photo = 4, 5
    else:
        spp, photo = (3, 2) if rgb_space else (3, 6)
    if arith:
        assert not (rgb_space or planar or old_style or per_strip_tables
                    or jpeg_tables or adobe_transform is not None), (
            "arithmetic JPEG-in-TIFF: gray or chunky-YCbCr segments only"
        )
    if planar:
        assert photo in (2, 5, 6) and not old_style, (
            "planar JPEG-in-TIFF needs component planes"
        )
    if subsampling is not None:
        if per_strip_tables:
            assert subsampling in ("444", "420", "422", "440", "411")
        else:
            assert planar and photo == 6, (
                "subsampling is the planar-YCbCr / per-strip knob"
            )
            assert subsampling[0] in (1, 2, 4) and subsampling[1] in (1, 2, 4)
    if per_strip_tables:
        # round 12: the OTHER old-style layout — per-strip raw
        # entropy data with tables in tags 519/520/521 (TIFF 6.0
        # §22's original design; see _tiff_ojpeg_per_strip)
        assert not old_style and not jpeg_tables and tile is None
        assert not rgb_space and not planar and adobe_transform is None
        assert photo in (1, 6), "per-strip layout: gray or chunky YCbCr"
        sub = subsampling or "444"
        sv_ = {"444": 1, "422": 1, "420": 2, "440": 2, "411": 1}[sub]
        rps = rows_per_strip or h
        if rps < h:
            assert rps % (8 * sv_) == 0, (
                "per-strip rows_per_strip must cover whole MCU rows"
            )
        dis = []
        for y0 in range(0, h, rps):
            s = encode_jpeg(
                a[y0 : y0 + rps], quality=quality,
                subsampling=sub if not gray else "444",
                restart_interval=restart_interval,
            )
            dis.append(_jpeg_dissect(s))
        d0 = dis[0]
        for d in dis[1:]:
            # fixed Annex-K tables at one quality: every strip shares
            assert d["q"] == d0["q"] and d["dc"] == d0["dc"] and \
                d["ac"] == d0["ac"] and d["comps"][0][1] == \
                d0["comps"][0][1] and d["dri"] == d0["dri"]
        body = bytearray()
        offsets, counts = [], []
        for d in dis:
            offsets.append(8 + len(body))
            counts.append(len(d["entropy"]))
            body += d["entropy"]
            if len(body) % 2:
                body += b"\x00"

        def emit(blob):
            off = 8 + len(body)
            body.extend(blob)
            if len(body) % 2:
                body.extend(b"\x00")
            return off

        qpos = {t: emit(blob) for t, blob in sorted(d0["q"].items())}
        dcpos = {t: emit(blob) for t, blob in sorted(d0["dc"].items())}
        acpos = {t: emit(blob) for t, blob in sorted(d0["ac"].items())}
        qoffs, dcoffs, acoffs = [], [], []
        for ci, (_cid, _samp, tq) in enumerate(d0["comps"]):
            qoffs.append(qpos[tq])
            sel = d0["sos"][ci]
            dcoffs.append(dcpos[sel >> 4])
            acoffs.append(acpos[sel & 0x0F])
        ifd_off = 8 + len(body)
        tags = [
            (256, 3, [w]), (257, 3, [h]), (258, 3, [8] * spp),
            (259, 3, [6]), (262, 3, [photo]), (277, 3, [spp]),
            (273, 4, offsets), (278, 3, [min(rps, h)]),
            (279, 4, counts), (512, 3, [1]),
            (519, 4, qoffs), (520, 4, dcoffs), (521, 4, acoffs),
        ]
        if d0["dri"]:
            tags.append((515, 3, [d0["dri"]]))
        if not gray:
            c0 = d0["comps"][0][1]
            tags.append((530, 3, [c0 >> 4, c0 & 0x0F]))
        tags.sort(key=lambda t: t[0])
        header = (b"II" if e == "<" else b"MM") + struct.pack(
            e + "HI", 42, ifd_off
        )
        return bytes(header + body) + _tiff_ifd(e, tags, ifd_off)
    if old_style:
        assert not jpeg_tables and not rows_per_strip
        assert not rgb_space and tile is None
        stream = encode_jpeg(a, quality=quality)
        body = stream + (b"\x00" if len(stream) % 2 else b"")
        ifd_off = 8 + len(body)
        tags = [
            (256, 3, [w]),
            (257, 3, [h]),
            (258, 3, [8] * spp),
            (259, 3, [6]),
            (262, 3, [photo]),
            (277, 3, [spp]),
            (513, 4, [8]),
            (514, 4, [len(stream)]),
        ]
        header = (b"II" if e == "<" else b"MM") + struct.pack(
            e + "HI", 42, ifd_off
        )
        return bytes(header) + bytes(body) + _tiff_ifd(e, tags, ifd_off)

    def enc(chunk):
        if arith:
            # 4-channel chunks are untransformed ink planes (the
            # CMYK-ID convention); gray/RGB take the normal path
            return encode_jpeg_arith(
                chunk, quality=quality,
                rgb_space=chunk.ndim == 3 and chunk.shape[2] == 4,
            )
        if chunk.ndim == 2:
            return encode_jpeg(chunk, quality=quality)
        return encode_jpeg(chunk, quality=quality, rgb_space=rgb_space,
                           adobe_transform=adobe_transform)

    if planar and photo == 6:
        # encode_jpeg's forward CCIR-601 transform, then top-left
        # chroma sampling at the subsampled plane dims
        sh_s, sv_s = subsampling or (2, 2)
        yp, cbp, crp = [
            p.astype(np.uint8) for p in _jpg_color_planes(a, 8, "ycbcr")[0]
        ]
        comps = [yp, cbp[::sv_s, ::sh_s], crp[::sv_s, ::sh_s]]
        vsteps = [1, sv_s, sv_s]
    elif planar:
        comps = [a[..., c] for c in range(a.shape[2])]
        vsteps = [1] * a.shape[2]
    else:
        comps = [a]
        vsteps = [1]
    segs = []
    if tile is not None:
        tw, th = tile
        assert tw % 8 == 0 and th % 8 == 0, "tile dims must be MCU multiples"
        for plane in comps:
            # per-plane grid: a subsampled photometric-6 chroma plane
            # covers its OWN dims with its own tile grid (round 12 —
            # full-size planes reduce to the uniform grid)
            ph, pw = plane.shape[:2]
            ta, td = -(-pw // tw), -(-ph // th)
            padded = np.empty(
                (td * th, ta * tw) + plane.shape[2:], np.uint8
            )
            padded[:ph, :pw] = plane
            if pw < ta * tw:
                padded[:ph, pw:] = plane[:, pw - 1 : pw]
            if ph < td * th:
                padded[ph:] = padded[ph - 1 : ph]
            for ty in range(td):
                for tx in range(ta):
                    segs.append(
                        enc(padded[ty * th : (ty + 1) * th,
                                   tx * tw : (tx + 1) * tw])
                    )
    else:
        rps = rows_per_strip or h
        if rps < h:
            assert rps % 8 == 0, "rows_per_strip must be an MCU multiple"
            assert rps % (8 * max(vsteps)) == 0, (
                "planar-YCbCr rows_per_strip must cover whole chroma MCUs"
            )
        per_plane = -(-h // rps)
        for plane, vstep in zip(comps, vsteps):
            prps = -(-rps // vstep)
            for s in range(per_plane):
                segs.append(enc(plane[s * prps : (s + 1) * prps]))
    tables = b""
    if jpeg_tables:
        # every segment shares the fixed Annex-K-scaled tables at one
        # quality, so the first segment's tables serve all
        tables, _ = _jpeg_split_tables(segs[0])
        segs = [_jpeg_split_tables(s)[1] for s in segs]
    body = bytearray()
    offsets = []
    for s in segs:
        offsets.append(8 + len(body))
        body += s
        if len(body) % 2:
            body += b"\x00"
    ifd_off = 8 + len(body)
    tags = [
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [8] * spp),
        (259, 3, [7]),
        (262, 3, [photo]),
        (277, 3, [spp]),
    ]
    if tile is not None:
        tags += [
            (322, 3, [tw]),
            (323, 3, [th]),
            (324, 4, offsets),
            (325, 4, [len(s) for s in segs]),
        ]
    else:
        tags += [
            (273, 4, offsets),
            (278, 3, [min(rps, h)]),
            (279, 4, [len(s) for s in segs]),
        ]
    if planar:
        tags.append((284, 3, [2]))
        if photo == 6:
            tags.append((530, 3, list(subsampling or (2, 2))))
    if jpeg_tables:
        tags.append((347, 7, list(tables)))
    tags.sort(key=lambda t: t[0])
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_off
    )
    return bytes(header + body) + _tiff_ifd(e, tags, ifd_off)


def encode_tiff_ojpeg_lossless(
    arr,
    predictor: int = 4,
    point_transform: int = 0,
    rows_per_strip: int = 0,
    big_endian: bool = False,
    precision: int = 0,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint8 -> OLD-STYLE (compression
    6) JPEG-in-TIFF with **JPEGProc = 14 (lossless)** in the
    per-strip table-tag layout — the TIFF 6.0 §22 shape DNG's
    ancestors shipped (round 13, the JPEGProc gate retirement's
    encode side). One OPTIMAL DC table is censused over every
    strip's difference symbols and shared via JPEGDCTables (520, one
    offset per component); each strip holds the raw entropy data of
    its own SOF3 scan (prediction resets per strip by construction).
    JPEGLosslessPredictors (517) / JPEGPointTransforms (518) carry
    the scan header fields; RowsPerStrip needs no MCU alignment
    (lossless has no block grid). Photometric 1 (gray) or 2 (RGB —
    lossless has no color transform). ``precision`` defaults to the
    dtype width (8/16) — deep rasters are the layout's real-world
    use (DNG ancestors stored sensor data this way; 12-bit data
    rides 16-bit containers at the TIFF layer)."""
    import numpy as np

    a = np.asarray(arr)
    gray = a.ndim == 2
    h, w = a.shape[:2]
    spp = 1 if gray else 3
    if not gray:
        assert a.shape[2] == 3, "ojpeg lossless: gray or RGB"
    photo = 1 if gray else 2
    p = precision or (8 if a.dtype == np.uint8 else 16)
    assert p in (8, 16) and int(a.max(initial=0)) < (1 << p)
    pt = point_transform
    assert 1 <= predictor <= 7 and 0 <= pt < p
    e = ">" if big_endian else "<"
    red = (a[..., None] if gray else a).astype(np.int64) >> pt
    default = 1 << (p - pt - 1)
    rps = rows_per_strip or h
    strips = [red[s * rps : (s + 1) * rps] for s in range(-(-h // rps))]
    # shared table: census the symbols of EVERY strip (each strip is
    # its own scan, so the walk restarts per strip)
    freq: dict[int, int] = {}

    def count(c, d):
        if c is not None:
            sym = _jpg_ll_category(d)
            freq[sym] = freq.get(sym, 0) + 1

    for st_ in strips:
        _jpg_ll_walk(st_, predictor, default, 0, count)
    bits, vals = _jpg_optimal_table(freq)
    codes = _jpg_canonical_codes(bits, vals)
    table_blob = bytes(bits) + bytes(vals)

    segs = []
    for st_ in strips:
        wr = _JpgBitWriter()

        def emit(c, d):
            if c is not None:
                _jpg_ll_emit_symbol(wr, codes, d)

        _jpg_ll_walk(st_, predictor, default, 0, emit)
        wr.flush()
        segs.append(bytes(wr.out))

    body = bytearray()
    table_off = 8
    body += table_blob
    if len(body) % 2:
        body += b"\x00"
    offsets = []
    for s in segs:
        offsets.append(8 + len(body))
        body += s
        if len(body) % 2:
            body += b"\x00"
    ifd_off = 8 + len(body)
    tags = [
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [p] * spp),
        (259, 3, [6]),
        (262, 3, [photo]),
        (273, 4, offsets),
        (277, 3, [spp]),
        (278, 3, [min(rps, h)]),
        (279, 4, [len(s) for s in segs]),
        (512, 3, [14]),
        (517, 3, [predictor] * spp),
        (518, 3, [pt] * spp),
        (520, 4, [table_off] * spp),
    ]
    header = (b"II" if e == "<" else b"MM") + struct.pack(
        e + "HI", 42, ifd_off
    )
    return bytes(header) + bytes(body) + _tiff_ifd(e, tags, ifd_off)


def encode_ico(entries) -> bytes:
    """ICO writer: ``entries`` is a list of (rgba_array, kind) —
    "png" stores an embedded PNG (the modern favicon layout);
    "bmp" an ICO DIB (BITMAPINFOHEADER with DOUBLED height,
    bottom-up 32bpp BGRA XOR data, then the 1bpp AND mask derived
    from alpha==0, rows padded to 32 bits); "bmp24" the legacy
    24bpp DIB whose transparency lives ONLY in the AND mask;
    "bmp16" the X1R5G5B5 DIB (top-5-bit channels, mask-only
    transparency, round 10)."""
    import numpy as np

    dirents = bytearray()
    blobs = []
    offset = 6 + 16 * len(entries)
    for arr, kind in entries:
        a = np.asarray(arr, np.uint8)
        h, w, c = a.shape
        assert c == 4 and w <= 256 and h <= 256
        if kind == "png":
            payload = encode_png_rgba(a)
        else:
            mask_bits = (a[..., 3] == 0).astype(np.uint8)[::-1]
            rb = (w + 7) // 8
            mstride = rb + ((-rb) % 4)
            packed = np.packbits(mask_bits, axis=1)
            rows = np.zeros((h, mstride), np.uint8)
            rows[:, :rb] = packed
            if kind == "bmp24":
                bgr = a[..., [2, 1, 0]][::-1]
                row = w * 3
                stride = row + ((-row) % 4)
                xr = np.zeros((h, stride), np.uint8)
                xr[:, :row] = bgr.reshape(h, row)
                xor = xr.tobytes()
                bpp = 24
            elif kind == "bmp16":
                v = _x1r5g5b5_pack(a)[::-1]
                row = w * 2
                stride = row + ((-row) % 4)
                xr = np.zeros((h, stride), np.uint8)
                xr[:, :row] = v.astype("<u2").view(np.uint8).reshape(
                    h, row
                )
                xor = xr.tobytes()
                bpp = 16
            else:
                xor = a[..., [2, 1, 0, 3]][::-1].tobytes()
                bpp = 32
            hdr = struct.pack(
                "<IiiHHIIiiII", 40, w, 2 * h, 1, bpp, 0,
                len(xor) + rows.size, 0, 0, 0, 0,
            )
            payload = hdr + xor + rows.tobytes()
        dirents += struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, 32, len(payload),
            offset,
        )
        blobs.append(payload)
        offset += len(payload)
    return (
        struct.pack("<HHH", 0, 1, len(entries))
        + bytes(dirents)
        + b"".join(blobs)
    )


def decode_ico_entries(b: bytes):
    """ICO/CUR bytes -> list of (h, w, 4) uint8 RGBA images, one per
    directory entry: embedded PNG entries route through decode_png;
    DIB entries parse the BITMAPINFOHEADER (biHeight doubled per the
    format), bottom-up 1/4/8-bit paletted / 24bpp / 32bpp XOR data,
    and the 1bpp AND mask — transparency comes from the 32bpp alpha
    channel when it is non-zero anywhere, else from the mask (the
    dual convention real favicons use). Structural damage raises
    ValueError."""
    import numpy as np

    if len(b) < 6:
        raise ValueError("ICO header truncated")
    rsv, typ, cnt = struct.unpack_from("<HHH", b, 0)
    if rsv != 0 or typ not in (1, 2) or cnt == 0:
        raise ValueError("not an ICO/CUR file")
    if cnt > 64:
        raise ValueError("ICO entry count implausible")
    out = []
    for k in range(cnt):
        at = 6 + 16 * k
        if at + 16 > len(b):
            raise ValueError("ICO directory truncated")
        _w8, _h8, _cc, _rsv, _p, _bc, size, off = struct.unpack_from(
            "<BBBBHHII", b, at
        )
        if off + size > len(b) or size < 8:
            raise ValueError("ICO entry out of range")
        payload = b[off : off + size]
        if payload[:8] == _PNG_SIG:
            px = decode_png(payload)
            if px.shape[2] == 3:
                px = np.concatenate(
                    [px, np.full(px.shape[:2] + (1,), 255, np.uint8)],
                    axis=-1,
                )
            out.append(px)
            continue
        if len(payload) < 40:
            raise ValueError("ICO DIB header truncated")
        (hsz, w, h2, planes, bpp, comp) = struct.unpack_from(
            "<IiiHHI", payload, 0
        )
        if hsz != 40 or comp != 0:
            raise ValueError("ICO DIB header unsupported")
        if w < 1 or h2 < 2 or h2 % 2 or w > 1024 or h2 > 2048:
            raise ValueError("ICO DIB dimensions implausible")
        h = h2 // 2
        if bpp not in (1, 4, 8, 16, 24, 32):
            require_codec(f"ICO DIB bpp {bpp}")
        pos = 40
        if bpp <= 8:
            n_pal = 1 << bpp
            if pos + 4 * n_pal > len(payload):
                raise ValueError("ICO palette truncated")
            pal = np.frombuffer(
                payload[pos : pos + 4 * n_pal], np.uint8
            ).reshape(n_pal, 4)[:, [2, 1, 0]]
            pos += 4 * n_pal
            rb = (w * bpp + 7) // 8
            stride = rb + ((-rb) % 4)
            if pos + stride * h > len(payload):
                raise ValueError("ICO XOR data truncated")
            rows = np.frombuffer(
                payload, np.uint8, count=stride * h, offset=pos
            ).reshape(h, stride)[:, :rb]
            idx = rows[:, :w] if bpp == 8 else _unpack_msb_samples(
                rows, w, bpp
            )
            rgb = pal[idx.reshape(-1).astype(np.int64)].reshape(h, w, 3)
            alpha = None
            pos += stride * h
        elif bpp == 16:
            # BI_RGB 16bpp DIB: X1R5G5B5 little-endian words,
            # 5-bit channels bit-replicated to 8 (gate retired r10)
            row = w * 2
            stride = row + ((-row) % 4)
            if pos + stride * h > len(payload):
                raise ValueError("ICO XOR data truncated")
            words = np.frombuffer(
                payload, np.uint8, count=stride * h, offset=pos
            ).reshape(h, stride)[:, :row].reshape(h, w, 2)
            v = words[..., 0].astype(np.uint16) | (
                words[..., 1].astype(np.uint16) << 8
            )
            rgb = _x1r5g5b5_expand(v)
            alpha = None
            pos += stride * h
        else:
            nb = bpp // 8
            row = w * nb
            stride = row + ((-row) % 4)
            if pos + stride * h > len(payload):
                raise ValueError("ICO XOR data truncated")
            px = np.frombuffer(
                payload, np.uint8, count=stride * h, offset=pos
            ).reshape(h, stride)[:, :row].reshape(h, w, nb)
            rgb = px[..., [2, 1, 0]]
            alpha = px[..., 3] if nb == 4 else None
            pos += stride * h
        # 1bpp AND mask, rows padded to 32 bits, bottom-up
        mrb = (w + 7) // 8
        mstride = mrb + ((-mrb) % 4)
        if pos + mstride * h > len(payload):
            raise ValueError("ICO AND mask truncated")
        mrows = np.frombuffer(
            payload, np.uint8, count=mstride * h, offset=pos
        ).reshape(h, mstride)[:, :mrb]
        mask = _unpack_msb_samples(mrows, w, 1)
        if alpha is not None and int(alpha.max(initial=0)) > 0:
            av = alpha  # modern 32bpp: alpha channel wins
        else:
            av = ((1 - mask) * 255).astype(np.uint8)
        rgba = np.concatenate([rgb, av[..., None]], axis=-1)
        out.append(np.ascontiguousarray(rgba[::-1]))  # bottom-up
    return out


def decode_ico(b: bytes):
    """ICO bytes -> the LARGEST entry's (h, w, 4) RGBA raster (the
    census convention; ``decode_ico_entries`` returns all)."""
    entries = decode_ico_entries(b)
    return max(entries, key=lambda a: a.shape[0] * a.shape[1])


def _pcx_rle_encode(row: bytes) -> bytes:
    """PCX RLE for one row-plane: runs up to 63; any byte >= 0xC0
    must be coded as a run even at count 1."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        v = row[i]
        run = 1
        while i + run < n and run < 63 and row[i + run] == v:
            run += 1
        if run > 1 or v >= 0xC0:
            out.append(0xC0 | run)
            out.append(v)
        else:
            out.append(v)
        i += run
    return bytes(out)


def encode_pcx(arr, palette=None, ega_planes: int = 0,
               palette16=None, bpp4: bool = False,
               bpp2: bool = False) -> bytes:
    """(h, w, 3) RGB (three 8-bit planes per row), (h, w) uint8
    indices with ``palette`` (256, 3 — the 0x0C VGA palette block at
    EOF), or (h, w) 0/1 monochrome — -> PCX version 5, RLE
    encoding. ``ega_planes`` (2/3/4) emits the classic EGA
    bit-plane layout (index bit p in plane p), ``bpp4``/``bpp2`` the
    packed 4-/2-bit single-plane layouts, all resolving through the
    16-entry HEADER palette ``palette16`` ((n<=16, 3))."""
    import numpy as np

    a = np.asarray(arr, np.uint8)
    hdr_pal = b"\x00" * 48
    if palette16 is not None:
        p16 = np.asarray(palette16, np.uint8)
        assert p16.ndim == 2 and p16.shape[0] <= 16 and p16.shape[1] == 3
        hdr_pal = p16.tobytes().ljust(48, b"\x00")
    if ega_planes:
        assert a.ndim == 2 and palette is None and not bpp4 \
            and not bpp2
        assert 2 <= ega_planes <= 4
        assert int(a.max(initial=0)) < (1 << ega_planes)
        h, w = a.shape
        bpp, planes = 1, ega_planes
        row_planes = [(a >> p) & 1 for p in range(ega_planes)]
    elif bpp4 or bpp2:
        assert a.ndim == 2 and palette is None and not (bpp4 and bpp2)
        d = 4 if bpp4 else 2
        assert int(a.max(initial=0)) < (1 << d)
        h, w = a.shape
        bpp, planes = d, 1
        row_planes = [a]
    elif palette is not None:
        assert a.ndim == 2
        h, w = a.shape
        bpp, planes = 8, 1
        row_planes = [a]
    elif a.ndim == 2:
        h, w = a.shape
        assert int(a.max(initial=0)) <= 1
        bpp, planes = 1, 1
        row_planes = [a]
    else:
        h, w, _ = a.shape
        bpp, planes = 8, 3
        row_planes = [a[..., c] for c in range(3)]
    bpl = (w * bpp + 7) // 8
    bpl += bpl % 2  # even bytes-per-line per spec
    header = struct.pack(
        "<BBBBHHHHHH48sBBHH58s",
        0x0A, 5, 1, bpp, 0, 0, w - 1, h - 1, 72, 72, hdr_pal,
        0, planes, bpl, 1, b"\x00" * 58,
    )
    body = bytearray()
    for y in range(h):
        for pl in row_planes:
            if bpp == 1:
                packed = np.packbits(pl[y][None, :], axis=1)[0]
                row = packed.tobytes().ljust(bpl, b"\x00")
            elif bpp in (2, 4):
                row = _pack_sample_rows(
                    pl[y][None, :], bpp
                )[0].tobytes().ljust(bpl, b"\x00")
            else:
                row = pl[y].tobytes().ljust(bpl, b"\x00")
            body += _pcx_rle_encode(row)
    out = bytearray(header) + body
    if palette is not None:
        pal = np.asarray(palette, np.uint8)
        assert pal.shape == (256, 3)
        out += b"\x0c" + pal.tobytes()
    return bytes(out)


def decode_pcx(b: bytes):
    """PCX bytes -> (h, w, 3) uint8 RGB: version-5 RLE scanlines for
    8bpp VGA-paletted (0x0C trailer), 24bpp (three 8-bit planes per
    row), 1bpp monochrome, and — round 10, gates retired — the
    classic EGA/CGA layouts: 1bpp x 2/3/4 bit-planes (index bit p
    in plane p) and packed 2bpp/4bpp x 1, all resolving through the
    16-entry header palette. Structural damage raises ValueError."""
    import numpy as np

    if len(b) < 128 or b[0] != 0x0A:
        raise ValueError("not a PCX")
    version, encoding, bpp = b[1], b[2], b[3]
    if version not in (0, 2, 3, 5):
        raise ValueError(f"PCX version {version} invalid")
    if encoding != 1:
        raise ValueError("PCX without RLE encoding")
    xmin, ymin, xmax, ymax = struct.unpack_from("<HHHH", b, 4)
    w, h = xmax - xmin + 1, ymax - ymin + 1
    if w < 1 or h < 1 or w * h > (1 << 24):
        raise ValueError("PCX dimensions implausible")
    planes = b[65]
    (bpl,) = struct.unpack_from("<H", b, 66)
    if (bpp, planes) not in (
        (8, 1), (8, 3), (1, 1), (1, 2), (1, 3), (1, 4), (4, 1),
        (2, 1),
    ):
        require_codec(f"PCX layout {bpp}bpp x {planes} planes")
    if bpl < (w * bpp + 7) // 8:
        raise ValueError("PCX bytes-per-line too small")
    if bpl > 4 * ((w * bpp + 7) // 8) + 8:
        raise ValueError("PCX bytes-per-line implausible")
    need = h * planes * bpl
    out = np.empty(need, np.uint8)
    pos, filled = 128, 0
    while filled < need:
        if pos >= len(b):
            raise ValueError("PCX RLE stream truncated")
        v = b[pos]
        pos += 1
        if v >= 0xC0:
            count = v & 0x3F
            if pos >= len(b):
                raise ValueError("PCX RLE run truncated")
            val = b[pos]
            pos += 1
        else:
            count, val = 1, v
        if filled + count > need:
            # spec allows runs to pad to the row end but never past
            # the raster
            count = need - filled
        out[filled : filled + count] = val
        filled += count
    rows = out.reshape(h, planes, bpl)
    if bpp == 1 and planes == 1:
        bits = _unpack_msb_samples(rows[:, 0, :], w, 1)
        g = (bits * 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if bpp in (1, 2, 4):
        # EGA layouts: bit-planes (index bit p lives in plane p) or a
        # packed 4-bit single plane, through the 16-entry HEADER
        # palette (bytes 16..64)
        if bpp == 1:
            idx = np.zeros((h, w), np.int64)
            for p in range(planes):
                idx |= _unpack_msb_samples(
                    rows[:, p, :], w, 1
                ).astype(np.int64) << p
        else:
            idx = _unpack_msb_samples(rows[:, 0, :], w, bpp).astype(
                np.int64
            )
        pal = np.frombuffer(b[16:64], np.uint8).reshape(16, 3)
        return pal[idx.reshape(-1)].reshape(h, w, 3)
    if planes == 3:
        return np.ascontiguousarray(
            rows[:, :, :w].transpose(0, 2, 1)
        )
    # 8bpp paletted: VGA palette trailer
    if pos + 769 > len(b) or b[pos] != 0x0C:
        # some writers pad RLE to even size before the trailer
        tail = b.rfind(b"\x0c", max(128, len(b) - 770))
        if tail < 0 or len(b) - tail != 769:
            raise ValueError("PCX VGA palette trailer missing")
        pos = tail
    pal = np.frombuffer(b[pos + 1 : pos + 769], np.uint8).reshape(
        256, 3
    )
    idx = rows[:, 0, :w]
    return pal[idx.reshape(-1).astype(np.int64)].reshape(h, w, 3)


_TGA_FOOTER = b"TRUEVISION-XFILE.\x00"


def _x1r5g5b5_pack(rgb):
    """(..., 3) uint8 RGB -> uint16 X1R5G5B5 words (top 5 bits per
    channel) — the shared 16bpp layout TGA, ICO DIBs, and BMP555 use."""
    import numpy as np

    a = np.asarray(rgb)
    return (
        ((a[..., 0].astype(np.uint16) >> 3) << 10)
        | ((a[..., 1].astype(np.uint16) >> 3) << 5)
        | (a[..., 2].astype(np.uint16) >> 3)
    )


def _x1r5g5b5_expand(v):
    """uint16 X1R5G5B5 words -> (..., 3) uint8 RGB with the house
    5-bit bit-replication expansion (c<<3 | c>>2)."""
    import numpy as np

    c5 = [(v >> 10) & 31, (v >> 5) & 31, v & 31]
    return np.stack(
        [((c << 3) | (c >> 2)).astype(np.uint8) for c in c5], axis=-1
    )


def encode_tga(
    arr,
    rle: bool = False,
    top_down: bool = True,
    palette=None,
    bpp16: bool = False,
    pal_bits: int = 24,
    cm_first: int = 0,
    depth15: bool = False,
    gray_alpha: bool = False,
) -> bytes:
    """(h, w, 3) RGB / (h, w, 4) RGBA / (h, w) gray uint8 — or
    (h, w) uint8 indices with ``palette`` — -> TGA 2.0 (footer
    signature included, which is how magic-less TGA files are
    detected). ``bpp16`` packs RGB as X1R5G5B5 from the top 5 bits
    of each channel (``depth15`` declares it as depth 15, the
    attribute-bit-less variant). ``pal_bits`` picks the colormap
    entry width (24, or 15/16 = X1R5G5B5 little-endian);
    ``cm_first`` offsets the stored map — entries cover absolute
    indices [cm_first, cm_first + len(palette)). ``gray_alpha``
    takes (h, w, 2) gray+attribute input (image type 3, depth 16).
    ``rle`` emits run-length packets; ``top_down`` sets descriptor
    bit 5 (TGA default is bottom-up)."""
    import numpy as np

    a = np.asarray(arr, np.uint8)
    cm_len = 0
    if palette is not None:
        assert a.ndim == 2, "palette TGA expects index planes"
        h, w = a.shape
        itype, depth = 1, 8
        pix = a[..., None]
        cm_len = np.asarray(palette).shape[0]
    elif gray_alpha:
        h, w, c = a.shape
        assert c == 2, "gray_alpha TGA expects (h, w, 2)"
        itype, depth = 3, 16
        pix = a
    elif a.ndim == 2:
        h, w = a.shape
        itype, depth = 3, 8
        pix = a[..., None]
    elif bpp16:
        h, w, _ = a.shape
        itype, depth = 2, (15 if depth15 else 16)
        pix = _x1r5g5b5_pack(a).astype("<u2").view(np.uint8).reshape(
            h, w, 2
        )
    else:
        h, w, c = a.shape
        assert c in (3, 4)
        itype, depth = 2, 8 * c
        pix = a[..., [2, 1, 0] + ([3] if c == 4 else [])]  # BGR(A)
    if not top_down:
        pix = pix[::-1]
    desc = (0x20 if top_down else 0) | (8 if depth == 32 else 0)
    header = struct.pack(
        "<BBBHHBHHHHBB",
        0,  # id length
        1 if palette is not None else 0,
        (itype + 8) if rle else itype,
        cm_first if palette is not None else 0,
        cm_len,
        pal_bits if palette is not None else 0,
        0, 0, w, h, depth, desc,
    )
    body = bytearray(header)
    if palette is not None:
        pal = np.asarray(palette, np.uint8)
        assert pal.ndim == 2 and pal.shape[1] == 3
        if pal_bits in (15, 16):
            body += _x1r5g5b5_pack(pal).astype("<u2").tobytes()
        else:
            body += pal[:, ::-1].tobytes()  # BGR entries
    nb = pix.shape[-1]
    if not rle:
        body += pix.tobytes()
    else:
        flat = pix.reshape(h, w, nb)
        for y in range(h):
            row = flat[y]
            x = 0
            while x < w:
                run = 1
                while (x + run < w and run < 128
                       and np.array_equal(row[x + run], row[x])):
                    run += 1
                if run >= 2:
                    body.append(0x80 | (run - 1))
                    body += row[x].tobytes()
                    x += run
                else:
                    lit = 1
                    while (x + lit < w and lit < 128
                           and not (x + lit + 1 < w and np.array_equal(
                               row[x + lit], row[x + lit + 1]))):
                        lit += 1
                    body.append(lit - 1)
                    body += row[x : x + lit].tobytes()
                    x += lit
    body += struct.pack("<II", 0, 0) + _TGA_FOOTER  # v2.0 footer
    return bytes(body)


def decode_tga(b: bytes):
    """TGA bytes -> (h, w, 3) uint8 RGB or (h, w, 4) RGBA: truecolor
    15/16 (X1R5G5B5, bit-replicated to 8) / 24 / 32 bpp, grayscale
    at 8-bit or 16-bit (gray + attribute byte -> RGBA, round 10),
    8-bit color-mapped with 15/16/24/32-bit entries and a nonzero
    first-entry offset (round 10 — indices are absolute, the stored
    map covers [first, first+len)), RLE or raw, both vertical
    orientations. The optional v2.0 footer is tolerated (and is
    what ``_decode_any`` dispatches on — TGA has no leading magic).
    Structural damage raises ValueError."""
    import numpy as np

    if len(b) < 18:
        raise ValueError("TGA header truncated")
    (idlen, cmap_type, itype, cm_first, cm_len, cm_bits,
     _xo, _yo, w, h, depth, desc) = struct.unpack_from(
        "<BBBHHBHHHHBB", b, 0)
    if w < 1 or h < 1 or w * h > (1 << 24):
        raise ValueError("TGA dimensions implausible")
    rle = itype >= 9
    base = itype - 8 if rle else itype
    if base not in (1, 2, 3):
        require_codec(f"TGA image type {itype}")
    if cmap_type not in (0, 1):
        raise ValueError("TGA colormap type invalid")
    pos = 18 + idlen
    pal = None
    if cmap_type == 1:
        if cm_bits not in (15, 16, 24, 32) or cm_len > 256 \
                or cm_first + cm_len > 65536:
            require_codec(f"TGA colormap layout {cm_bits}/{cm_first}")
        nbp = (cm_bits + 7) // 8
        end = pos + cm_len * nbp
        if end > len(b):
            raise ValueError("TGA colormap truncated")
        raw_pal = np.frombuffer(b[pos:end], np.uint8).reshape(
            cm_len, nbp
        )
        if cm_bits in (15, 16):
            # X1R5G5B5 little-endian entries, 5-bit channels
            # bit-replicated to 8 (the house f555 expansion); stored
            # as BGR(A)-layout rows so the shared lookup path reads
            # them like 24-bit entries
            v = raw_pal[:, 0].astype(np.uint16) | (
                raw_pal[:, 1].astype(np.uint16) << 8
            )
            pal = _x1r5g5b5_expand(v)[:, ::-1]  # BGR like 24-bit
        else:
            pal = raw_pal
        pos = end
    if base == 1:
        if depth != 8 or pal is None:
            raise ValueError("TGA colormapped needs 8-bit indices + map")
        nb = 1
    elif base == 3:
        if depth not in (8, 16):
            require_codec(f"TGA gray depth {depth}")
        nb = depth // 8
    else:
        if depth not in (15, 16, 24, 32):
            require_codec(f"TGA truecolor depth {depth}")
        nb = (depth + 7) // 8
    need = h * w * nb
    if not rle:
        if pos + need > len(b):
            raise ValueError("TGA pixel data truncated")
        pix = np.frombuffer(b[pos : pos + need], np.uint8).reshape(
            h, w, nb
        )
    else:
        out = np.empty((h * w, nb), np.uint8)
        filled = 0
        while filled < h * w:
            if pos >= len(b):
                raise ValueError("TGA RLE stream truncated")
            ctrl = b[pos]
            pos += 1
            count = (ctrl & 0x7F) + 1
            if filled + count > h * w:
                raise ValueError("TGA RLE overruns the raster")
            if ctrl & 0x80:
                if pos + nb > len(b):
                    raise ValueError("TGA RLE run truncated")
                out[filled : filled + count] = np.frombuffer(
                    b[pos : pos + nb], np.uint8
                )
                pos += nb
            else:
                if pos + count * nb > len(b):
                    raise ValueError("TGA RLE literals truncated")
                out[filled : filled + count] = np.frombuffer(
                    b[pos : pos + count * nb], np.uint8
                ).reshape(count, nb)
                pos += count * nb
            filled += count
        pix = out.reshape(h, w, nb)
    if base == 1:
        # indices are ABSOLUTE; the stored map covers
        # [cm_first, cm_first + cm_len)
        idx = pix[..., 0].astype(np.int64) - cm_first
        if int(idx.min(initial=0)) < 0 or \
                int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("TGA index outside the colormap")
        ent = pal[idx.reshape(-1)].reshape(h, w, -1)
        rgb = ent[..., [2, 1, 0]]  # BGR(A) entries
    elif base == 3:
        g = pix[..., 0]
        if depth == 16:  # gray + attribute (alpha) byte
            rgb = np.stack([g, g, g, pix[..., 1]], axis=-1)
        else:
            rgb = np.stack([g, g, g], axis=-1)
    elif depth in (15, 16):
        v = pix.reshape(h, w, 2).astype(np.uint16)
        rgb = _x1r5g5b5_expand(v[..., 0] | (v[..., 1] << 8))
    elif depth == 24:
        rgb = pix[..., [2, 1, 0]]
    else:
        rgb = pix[..., [2, 1, 0, 3]]  # RGBA
    if not desc & 0x20:  # bottom-up (the TGA default)
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


_AU_FMT_CODE = 0x736E  # '.snd' sentinel fmt_code


def encode_au(samples_or_codes, encoding: int, sample_rate: int = 8000) -> bytes:
    """Sun/NeXT .au container: encoding 1 = mu-law code bytes,
    27 = A-law code bytes, 2/3/4 = signed 8/16/24-bit big-endian
    PCM, 6/7 = big-endian IEEE float32/float64 (round 10). Input is
    raw code bytes for the G.711 encodings, floats in [-1, 1] for
    6/7, integer samples otherwise."""
    import numpy as np

    a = np.asarray(samples_or_codes)
    if encoding in (1, 27):
        data = a.astype(np.uint8).tobytes()
    elif encoding == 6:
        data = a.astype(">f4").tobytes()
    elif encoding == 7:
        data = a.astype(">f8").tobytes()
    elif encoding == 2:
        data = a.astype(np.int8).tobytes()
    elif encoding == 3:
        data = a.astype(">i2").tobytes()
    elif encoding == 4:
        v = (a.astype(np.int64) & 0xFFFFFF).astype(">u4")
        data = v.view(np.uint8).reshape(-1, 4)[:, 1:].tobytes()
    else:
        raise ValueError(f"encode_au: unsupported encoding {encoding}")
    return struct.pack(
        ">4sIIIII", b".snd", 24, len(data), encoding, sample_rate, 1
    ) + data


def _decode_au(b: bytes):
    """.au bytes -> ((n, ch) samples, rate, fmt_code, bits) with the
    house dtype conventions; G.711 payloads expand through the same
    ulaw/alaw tables as WAV formats 7/6; encodings 6/7 are
    big-endian IEEE float32/float64 (gate retired round 10)."""
    import numpy as np

    if len(b) < 24 or b[:4] != b".snd":
        raise ValueError("not a .au stream")
    _m, off, size, enc, rate, ch = struct.unpack_from(">4sIIIII", b, 0)
    if off < 24 or off > len(b):
        raise ValueError(".au data offset out of range")
    if ch < 1 or ch > 16 or rate < 1 or rate > 10_000_000:
        raise ValueError(".au header fields implausible")
    data = b[off:]
    if size != 0xFFFFFFFF:  # unknown-size sentinel is legal
        if size > len(data):
            raise ValueError(".au data shorter than declared")
        data = data[:size]
    if enc in (6, 7):
        # big-endian IEEE float32/float64 (gate retired round 10):
        # native [-1, 1] floats, the WAV-format-3 value semantics
        fb = 4 if enc == 6 else 8
        out = np.frombuffer(
            data[: len(data) // fb * fb], f">f{fb}"
        ).astype(np.float32 if enc == 6 else np.float64)
        bits = 8 * fb
        n = out.shape[0] // ch * ch
        return out[:n].reshape(-1, ch), int(rate), _AU_FMT_CODE, bits
    if enc == 1 or enc == 27:
        codes = np.frombuffer(data, np.uint8)
        lin = ulaw_expand(codes) if enc == 1 else alaw_expand(codes)
        out = lin.astype(np.int16)
        bits = 8
    elif enc == 2:
        out = np.frombuffer(data, np.int8).astype(np.int16) * 256
        bits = 8
    elif enc == 3:
        out = np.frombuffer(
            data[: len(data) // 2 * 2], ">i2"
        ).astype(np.int16)
        bits = 16
    elif enc == 4:
        u = np.frombuffer(data[: len(data) // 3 * 3], np.uint8)
        u = u.reshape(-1, 3).astype(np.int64)
        v = (u[:, 0] << 16) | (u[:, 1] << 8) | u[:, 2]
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        out = v.astype(np.int32)
        bits = 24
    else:
        require_codec(f".au encoding {enc}")
    n = out.shape[0] // ch * ch
    return out[:n].reshape(-1, ch), int(rate), _AU_FMT_CODE, bits


def _decode_any(content) -> tuple:
    """(pixels|None, format|None) for one binary payload."""
    if content is None:
        return None, None
    b = bytes(content)
    try:
        if b[:2] == b"BM":
            return decode_bmp(b), "bmp"
        if (
            b[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")
            and len(b) >= 6
            and b[4] != 0
            and b[-18:] != _TGA_FOOTER
        ):
            # ICO (type 1) / CUR (type 2). The CUR magic collides
            # with a raw truecolor TGA's first four bytes
            # (idlen 0, no colormap, image type 2, cmap_first 0), so
            # two discriminators apply: a real <=64-entry icon
            # directory has a NONZERO count low byte where truecolor
            # TGA carries cmap_first's zero high byte, and a TGA 2.0
            # footer always wins the dispatch.
            return decode_ico(b), "ico"
        if b[:2] == b"P6":
            return decode_ppm(b), "ppm"
        if b[:1] == b"\x0a" and len(b) > 3 and b[1] in (0, 2, 3, 5) \
                and b[2] == 1:
            return decode_pcx(b), "pcx"
        if b[:2] in (b"P1", b"P2", b"P3", b"P4", b"P5"):
            return decode_pnm(b), "pnm"
        if b[:8] == _PNG_SIG:
            return decode_png(b), "png"
        if b[:2] == b"\xff\xd8":
            return decode_jpeg(b), "jpeg"
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(b), "gif"
        if b[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
            try:
                return decode_tiff(b), "tiff"
            except NotImplementedError as exc:
                if "sample format" not in str(exc):
                    raise
                # SampleFormat-3 rasters have no canonical 8-bit
                # rendering; surface them through the house float
                # micro-quantization discipline (1/16 steps — exact
                # for dyadic corpora, like audio's rint(x * 2^15))
                import numpy as np

                arr = decode_tiff_float(b)
                q = np.rint(arr * 16.0)
                if not np.isfinite(q).all() or (
                    q.size and float(np.abs(q).max()) > 2.0**62
                ):
                    return None, None
                q = q.astype(np.int64)
                if q.shape[2] == 1:
                    q = np.repeat(q, 3, axis=2)
                return q, "tiff_f"
        if b[-18:] == _TGA_FOOTER:
            # TGA has no leading magic; the v2.0 footer signature is
            # the reliable detector (footerless v1 files need
            # extension routing and decode via decode_tga directly)
            return decode_tga(b), "tga"
    except (ValueError, NotImplementedError, struct.error, IndexError):
        return None, None
    return None, None


# ---------------------------------------------------------------------------
# Synthetic tables (deterministic pixels, no RNG)
# ---------------------------------------------------------------------------


# Rows per partition of a synthetic corpus. A driver-side list is
# otherwise sliced into defaultParallelism partitions per corpus, so a
# union of small corpora runs one Python-worker task per near-empty
# slice (q198: 72 tasks per stage for 395 rows on local[4]).
_MEDIA_ROWS_PER_SLICE = 64


def _media_table(spark, media_type: str, items) -> DataFrame:
    """A synthetic MEDIA_SCHEMA frame from ``(media_id, content, ext)``
    items: ``source_uri`` is ``mem://media/{media_id}.{ext}`` and
    ``content_length`` the payload's byte count. It has one partition
    per ``_MEDIA_ROWS_PER_SLICE`` rows, at most defaultParallelism."""
    rows = [
        (i, media_type, content, len(content), f"mem://media/{i}.{ext}")
        for i, content, ext in items
    ]
    sc = spark.sparkContext
    slices = min(sc.defaultParallelism, -(-len(rows) // _MEDIA_ROWS_PER_SLICE))
    return spark.createDataFrame(sc.parallelize(rows, max(slices, 1)), MEDIA_SCHEMA)


def make_fake_image_bytes(width: int, height: int) -> bytes:
    return _MAGIC + width.to_bytes(2, "big") + height.to_bytes(2, "big") + bytes([3])


def make_test_pixels(width: int, height: int, seed: int = 0):
    """Deterministic gradient pixels: value = (x + y + seed) mod 256
    per channel offset — cheap, reproducible, resize-checkable."""
    import numpy as np

    y = np.arange(height, dtype=np.int64)[:, None]
    x = np.arange(width, dtype=np.int64)[None, :]
    base = (x + y + seed) % 256
    return np.stack([base, (base + 85) % 256, (base + 170) % 256], axis=-1).astype(
        "uint8"
    )


def _media_palette(n_entries: int, unit: int):
    """Quantized-gradient palette: entry j = (j*unit, j*unit+85,
    j*unit+170) mod 256 — index base // unit reproduces the gradient
    structure at any palette size, so pixel oracles stay closed-form."""
    import numpy as np

    j = np.arange(n_entries) * unit
    return np.stack([j % 256, (j + 85) % 256, (j + 170) % 256], axis=-1).astype(
        np.uint8
    )


def synthetic_media_table(spark, n: int = 100, real: bool = False) -> DataFrame:
    """Deterministic media table. ``real=False`` (default) emits the
    header-only FAKEIMG layout (plumbing tests); ``real=True`` emits
    actual decodable images cycling EIGHTEEN container variants by
    ``i % 18`` — 24-bit BMP, PPM, 32-bit BGRX BMP, 8-bit paletted BMP,
    RLE8 BMP, 4-bit BMP (base // 17 palette), 1-bit BMP (base // 128
    palette), RLE4 BMP, 16-bit X1R5G5B5 BMP, 16-bit R5G6B5
    BI_BITFIELDS BMP, (round 8) BI_PNG embedded-payload BMP,
    A2R10G10B10 BI_ALPHABITFIELDS BMP, OS/2 BITMAPCOREHEADER 24-bit
    BMP, big-endian LZW+predictor TIFF, PackBits palette TIFF, and
    multi-strip Deflate TIFF, plus (round 11) the printer-DIB CMYK
    pair: BI_CMYK 32-bit ink quads (C=base, M/Y the +85/+170
    offsets, K=(base*3+7)%256) and BI_CMYKRLE4 through a 16-entry
    ink palette of the same rule over the quantized base. The full-depth variants (including the
    round-8 additions — PNG embed and the three TIFFs are lossless,
    the 10-bit samples are v << 2 so cyclic replication is exact,
    the OS/2 layout is plain truecolor, and the TIFF palette is the
    identity-gradient table) carry the SAME gradient pixels; the
    quantizing variants (4/1/16-bit) carry deterministic
    quantizations of it, so every pixel-stats oracle stays
    closed-form per variant."""
    import numpy as np

    pal256 = _media_palette(256, 1)
    pal16 = _media_palette(16, 17)
    pal2 = _media_palette(2, 255)
    rows = []
    for i in range(n):
        w, h = 16 + (i % 8) * 4, 16 + (i % 5) * 4
        if real:
            px = make_test_pixels(w, h, seed=i)
            base = px[..., 0]
            k = i % 18
            if k == 0:
                content = encode_bmp(px)
            elif k == 1:
                content = encode_ppm(px)
            elif k == 2:
                content = encode_bmp32(px)
            elif k == 3:
                content = encode_bmp8(base, pal256)
            elif k == 4:
                content = encode_bmp8(base, pal256, rle=True)
            elif k == 5:
                content = encode_bmp_paletted(base // 17, pal16, bpp=4)
            elif k == 6:
                content = encode_bmp_paletted(base // 128, pal2, bpp=1)
            elif k == 7:
                content = encode_bmp_paletted(
                    base // 17, pal16, bpp=4, rle=True
                )
            elif k == 8:
                content = encode_bmp16_555(px)
            elif k == 9:
                content = encode_bmp16_565(px)
            elif k == 10:
                content = encode_bmp_embedded(
                    encode_png(np.asarray(px)), w, h, png=True
                )
            elif k == 11:
                content = encode_bmp_a2r10g10b10(px)
            elif k == 12:
                content = encode_bmp_os2(px)
            elif k == 13:
                content = encode_tiff(
                    px, compression="lzw", big_endian=True,
                    predictor=True,
                )
            elif k == 14:
                content = encode_tiff(
                    base, compression="packbits",
                    palette=np.asarray(_media_palette(256, 1)),
                )
            elif k == 15:
                content = encode_tiff(
                    px, compression="deflate", rows_per_strip=7
                )
            elif k == 16:
                i64b = base.astype(np.int64)
                content = encode_bmp_cmyk(
                    np.stack(
                        [i64b, (i64b + 85) % 256, (i64b + 170) % 256,
                         (i64b * 3 + 7) % 256],
                        axis=-1,
                    ).astype(np.uint8)
                )
            else:
                j = np.arange(16, dtype=np.int64) * 17
                palc = np.stack(
                    [j, (j + 85) % 256, (j + 170) % 256,
                     (j * 3 + 7) % 256],
                    axis=-1,
                ).astype(np.uint8)
                content = encode_bmp_paletted(
                    base // 17, palc, bpp=4, rle=True, cmyk=True
                )
        else:
            content = make_fake_image_bytes(64 + (i % 8) * 32, 64 + (i % 5) * 48)
        rows.append((i, content, "img"))
    return _media_table(spark, "image", rows)


def _tile_raster(value, ny: int, nx: int, th: int, tw: int):
    """uint8 raster of ``ny x nx`` constant ``th x tw`` tiles, tile
    (by, bx) holding ``value(by, bx)`` — the block-constant layout
    whose JPEG round trip is exact (DC-only blocks)."""
    import numpy as np

    tiles = np.array(
        [[value(by, bx) for bx in range(nx)] for by in range(ny)],
        dtype=np.uint8,
    )
    return np.kron(tiles, np.ones((th, tw), dtype=np.uint8))


def jpeg_tile_value(i: int, by: int, bx: int) -> int:
    """Closed-form tile value for ``synthetic_jpeg_table`` — also the
    q164 oracle's formula."""
    return (i * 31 + by * 7 + bx * 13) % 256


def synthetic_ima_table(spark, n: int = 30) -> DataFrame:
    """Deterministic IMA ADPCM clips: clip i carries
    ``200 + (i % 4) * 20`` 4-bit codes ``(i * 5 + t * 3) % 16`` from
    initial state (pred = ((i*97) % 2000) - 1000, index = i % 89) —
    the q169 oracle replays the same state machine with a recursive
    CTE."""
    import numpy as np

    rows = []
    for i in range(n):
        ns = 200 + (i % 4) * 20
        codes = ((i * 5 + np.arange(ns, dtype=np.int64) * 3) % 16).astype(
            np.uint8
        )
        rows.append(
            (
                i,
                encode_wav_ima(codes, ((i * 97) % 2000) - 1000, i % 89),
                "ima.wav",
            )
        )
    return _media_table(spark, "audio", rows)


def synthetic_ms_adpcm_table(spark, n: int = 24) -> DataFrame:
    """Deterministic MS ADPCM clips (WAV format 2): clip i carries
    ``180 + (i % 4) * 16`` 4-bit codes ``_MS_NIB_BIAS[(i*7 + t*5) %
    16]`` (the bias keeps the adaptive delta at signal scale, like
    real encoder output) with predictor pair i % 7 (sweeping all
    seven standard coefficient pairs), initial delta
    ``16 + (i * 11) % 200``, sample1 ``((i * 53) % 800) - 400``,
    sample2 ``((i * 31) % 600) - 300`` — the q169 oracle replays the
    3-variable state machine (sample1, sample2, delta) with a
    recursive CTE. media_id offset +100 keeps ids disjoint from the
    IMA clips."""
    import numpy as np

    rows = []
    bias = np.array(_MS_NIB_BIAS, dtype=np.uint8)
    for i in range(n):
        ns = 180 + (i % 4) * 16
        codes = bias[
            ((i * 7 + np.arange(ns, dtype=np.int64) * 5) % 16)
        ].astype(np.uint8)
        rows.append(
            (
                100 + i,
                encode_wav_ms_adpcm(
                    codes,
                    i % 7,
                    16 + (i * 11) % 200,
                    ((i * 53) % 800) - 400,
                    ((i * 31) % 600) - 300,
                ),
                "ms.wav",
            )
        )
    return _media_table(spark, "audio", rows)


def synthetic_ima4_table(spark, n: int = 20) -> DataFrame:
    """Deterministic AIFC 'ima4' clips (Apple QuickTime IMA 4:1, the
    most common compressed-AIFF variant): clip i (media_id 200 + i,
    disjoint from the q169 WAV IMA/MS families) decodes to
    ``100 + (i % 4) * 50`` samples — NOT a multiple of the 64-sample
    packet, so the COMM-frame truncation path is driver-gated — from
    nibble codes ``(i * 9 + t * 5) % 16`` and initial state
    (pred = ((i * 113) % 2000) - 1000, index = (i * 7) % 89). Packet
    preambles continue the running state with the & ~0x7F predictor
    snap; the q169 oracle replays the identical state machine in a
    recursive CTE, applying the snap at every 64-code boundary."""
    import numpy as np

    rows = []
    for i in range(n):
        ns = 100 + (i % 4) * 50
        groups = (ns + 63) // 64
        codes = (
            (i * 9 + np.arange(groups * 64, dtype=np.int64) * 5) % 16
        ).astype(np.uint8)
        ssnd = _ima4_packets_from_codes(
            codes, ((i * 113) % 2000) - 1000, (i * 7) % 89
        )
        content = _aifc_container(b"ima4", 1, ns, 16, 16000, ssnd)
        rows.append((200 + i, content, "ima4.aifc"))
    return _media_table(spark, "audio", rows)


def synthetic_png_palette_table(spark, n: int = 45) -> DataFrame:
    """Deterministic INDEXED PNGs (color type 3): same gradient
    closed form, yet a different decode path from q147's truecolor
    corpus — PLTE lookup over a filtered 1-byte/px index plane. Size
    formula differs from every other image corpus."""
    rows = []
    for i in range(n):
        w, h = 18 + (i % 7) * 4, 14 + (i % 5) * 4
        px = make_test_pixels(w, h, seed=i * 2 + 3)
        rows.append((i, encode_png_palette(px), "p.png"))
    return _media_table(spark, "image", rows)


def make_test_pixels16(width: int, height: int, seed: int = 0):
    """Deterministic 16-bit gradient: r = (x*257 + y*509 +
    seed*65521) mod 2^16, g/b at fixed offsets — the full dynamic
    range no 8-bit corpus can represent."""
    import numpy as np

    y = np.arange(height, dtype=np.int64)[:, None]
    x = np.arange(width, dtype=np.int64)[None, :]
    base = (x * 257 + y * 509 + seed * 65521) % 65536
    return np.stack(
        [base, (base + 21845) % 65536, (base + 43690) % 65536], axis=-1
    ).astype(np.uint16)


def synthetic_png16_table(spark, n: int = 36) -> DataFrame:
    """Deterministic 16-bit PNGs cycling ALL FOUR high-depth color
    types by ``i % 6`` (q176's oracle regenerates every pixel): plain
    truecolor, origin-keyed truecolor, plain grayscale, origin-keyed
    grayscale, gray+alpha (alpha = (v + 12345) mod 2^16), and RGBA
    (alpha = (v + 23456) mod 2^16) — v is the gradient base sample.
    For these sizes ``(x*257 + y*509) mod 2^16 == 0`` only at the
    origin, so each keyed image has exactly ONE transparent pixel.
    Width varies by ``i div 6`` so every variant sees every size."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 14 + ((i // 6) % 6) * 4, 10 + (i % 4) * 4
        px = make_test_pixels16(w, h, seed=i * 7 + 1)
        v = px[..., 0]
        k = i % 6
        if k == 0:
            content = encode_png16(px)
        elif k == 1:
            content = encode_png16(px, trns_key=tuple(int(c) for c in px[0, 0]))
        elif k == 2:
            content = encode_png16_gray(v)
        elif k == 3:
            content = encode_png16_gray(v, trns_key=int(v[0, 0]))
        elif k == 4:
            a = ((v.astype(np.int64) + 12345) % 65536).astype(np.uint16)
            content = encode_png16_graya(v, a)
        else:
            a = ((v.astype(np.int64) + 23456) % 65536).astype(np.uint16)
            content = encode_png16_rgba(np.concatenate([px, a[..., None]], axis=-1))
        rows.append((i, content, "16.png"))
    return _media_table(spark, "image", rows)


def image16_exact_stats(df: DataFrame) -> DataFrame:
    """Integer-exact stats for 16-bit imagery: per image n_px, exact
    per-channel sums and maxima as int64 (the 8-bit kernel's
    micro-luminance square would overflow int64 at 16-bit range, so
    the high-depth path carries channel moments only). Color-keyed
    (tRNS) images decode to 16-bit RGBA and additionally report the
    exact alpha sum and fully-transparent pixel count; opaque images
    carry nulls there — the null/non-null split itself verifies the
    decoder returned the right channel count."""
    import numpy as np

    def stats(content):
        try:
            px = decode_png(bytes(content))
        except (ValueError, NotImplementedError, struct.error):
            return None
        p = px.astype(np.int64)
        sum_a = n_transp = None
        if p.shape[-1] == 4:
            sum_a = int(p[..., 3].sum())
            n_transp = int((p[..., 3] == 0).sum())
        return (
            *_px_sums(p),
            int(p[..., 0].max()),
            int(p[..., 1].max()),
            int(p[..., 2].max()),
            sum_a,
            n_transp,
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_px long, sum_r long, sum_g long, sum_b long, "
        "max_r long, max_g long, max_b long, sum_a long, n_transp long",
        stats,
    )


def synthetic_png_adam7_table(spark, n: int = 42) -> DataFrame:
    """Deterministic ADAM7-interlaced PNGs cycling four layouts
    (variant = i % 4): truecolor, palette, 4-bit grayscale, and
    2-bit palette — seven independently-filtered reduced images per
    file, so decode exercises the pass-grid scatter at byte widths
    3 and 1 AND at sub-byte pass strides (each sub-byte pass
    bit-packs its OWN scanlines at ceil(wp*depth/8) bytes; round-8
    surface closure). Odd sizes force ragged final passes. Every
    plane is a closed form of (x, y, seed) so the q173 oracle
    regenerates all four from SQL: gray samples are (x+y+seed)%16
    scaled by 17; the 2-bit palette maps index s=(x+y+seed)%4 to
    ((s*60+seed)%256, +85, +170)."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 15 + (i % 8) * 3, 11 + (i % 6) * 3
        seed = i * 5 + 2
        v = i % 4
        if v in (0, 1):
            px = make_test_pixels(w, h, seed=seed)
            enc = encode_png if v == 0 else encode_png_palette
            content = enc(px, interlace=True)
        else:
            y, x = np.mgrid[0:h, 0:w]
            if v == 2:
                g = ((x + y + seed) % 16).astype(np.uint8)
                content = encode_png_gray(g, depth=4, interlace=True)
            else:
                s = (x + y + seed) % 4
                r = (s * 60 + seed) % 256
                px = np.stack(
                    [r, (r + 85) % 256, (r + 170) % 256], axis=-1
                ).astype(np.uint8)
                content = encode_png_palette_subbyte(
                    px, depth=2, interlace=True
                )
        rows.append((i, content, "a7.png"))
    return _media_table(spark, "image", rows)


def synthetic_gif_table(spark, n: int = 50) -> DataFrame:
    """Deterministic GIF table: the standard gradient pixels (<= 256
    distinct colors, so the sorted-palette encoder is total) LZW-
    compressed through the real variable-width coder; sizes differ
    from the PNG/BMP corpora so oracles can't mask each other."""
    rows = []
    for i in range(n):
        w, h = 20 + (i % 5) * 4, 12 + (i % 6) * 4
        px = make_test_pixels(w, h, seed=i * 3 + 1)
        rows.append((i, encode_gif(px), "gif"))
    return _media_table(spark, "image", rows)


def synthetic_gif_variants_table(spark, n: int = 48) -> DataFrame:
    """Deterministic GIFs cycling the four container layouts the
    decoder supports — plain, interlaced, local-color-table, and
    interlaced+LCT (variant = i % 4) — over the standard gradient.
    All four are LOSSLESS spellings of the same pixels, so one
    closed-form oracle covers interlace row reordering and the
    LCT-overrides-GCT path at once."""
    rows = []
    for i in range(n):
        w, h = 19 + (i % 6) * 4, 15 + (i % 4) * 4
        px = make_test_pixels(w, h, seed=i * 7 + 4)
        content = encode_gif(
            px, interlace=i % 4 in (1, 3), local_table=i % 4 in (2, 3)
        )
        rows.append((i, content, "v.gif"))
    return _media_table(spark, "image", rows)


def synthetic_png_trns_table(spark, n: int = 44) -> DataFrame:
    """Deterministic PNGs with tRNS transparency, alternating the two
    8-bit layouts the chunk can decorate: even i -> indexed PNG whose
    palette alpha is the closed form ``(entry_red * 3 + 7) % 256``
    (pixel alpha therefore depends only on the pixel's red value,
    independent of index assignment), odd i -> truecolor with the
    gradient's (0, 0) color as the transparent key."""
    rows = []
    for i in range(n):
        w, h = 17 + (i % 6) * 4, 13 + (i % 5) * 4
        seed = i * 11 + 5
        px = make_test_pixels(w, h, seed=seed)
        if i % 2 == 0:
            content = encode_png_palette(
                px, trns_fn=lambda pal: (pal[:, 0] * 3 + 7) % 256
            )
        else:
            s = seed % 256
            content = encode_png(
                px, trns_key=(s, (s + 85) % 256, (s + 170) % 256)
            )
        rows.append((i, content, "t.png"))
    return _media_table(spark, "image", rows)


def synthetic_png_gray_family_table(spark, n: int = 42) -> DataFrame:
    """Deterministic PNGs cycling the six remaining 8-bit-family
    layouts (variant = i % 6): grayscale at depths 8/4/2/1 (sub-byte
    rows bit-packed per spec 7.2, decoded samples scaling by
    255/(2^d-1)), gray+alpha (color 4), and truecolor+alpha (color
    6). Every plane is a closed form of (x, y, seed) so the q181
    oracle regenerates all six from SQL."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 18 + (i % 6) * 3, 12 + (i % 4) * 5
        seed = i * 13 + 6
        y, x = np.mgrid[0:h, 0:w]
        base = x + y + seed
        v = i % 6
        if v == 0:
            content = encode_png_gray((base % 256).astype(np.uint8))
        elif v == 1:
            content = encode_png_gray((base % 16).astype(np.uint8), depth=4)
        elif v == 2:
            content = encode_png_gray((base % 4).astype(np.uint8), depth=2)
        elif v == 3:
            content = encode_png_gray((base % 2).astype(np.uint8), depth=1)
        elif v == 4:
            content = encode_png_graya(
                (base % 256).astype(np.uint8),
                ((x * 3 + y * 5 + seed) % 256).astype(np.uint8),
            )
        else:
            px = make_test_pixels(w, h, seed=seed)
            alpha = ((x * 7 + y * 11 + seed) % 256).astype(np.uint8)
            content = encode_png_rgba(
                np.concatenate([px, alpha[..., None]], axis=-1)
            )
        rows.append((i, content, "g.png"))
    return _media_table(spark, "image", rows)


def image_alpha_stats(df: DataFrame) -> DataFrame:
    """Integer-exact per-image RGBA statistics for transparency-aware
    imagery: pixel count, exact channel sums, exact alpha sum, and
    the fully-transparent pixel count. Images decoded without an
    alpha plane count as opaque (alpha 255 everywhere). Pixels never
    leave the kernel; six scalars per image cross back."""
    import numpy as np

    def stats(content):
        px, _fmt = _decode_any(content)
        if px is None:
            return None
        p = px.astype(np.int64)
        alpha = (
            p[..., 3]
            if p.shape[-1] == 4
            else np.full(p.shape[:2], 255, dtype=np.int64)
        )
        return (
            *_px_sums(p),
            int(alpha.sum()),
            int((alpha == 0).sum()),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_px long, sum_r long, sum_g long, sum_b long, "
        "sum_a long, n_transp long",
        stats,
    )


def image_color_stats(df: DataFrame) -> DataFrame:
    """Per-image channel sums plus the DISTINCT-COLOR count — the
    palette-integrity signal: a decoder that scrambles interlace row
    order preserves channel sums (same multiset of rows) but any
    palette/LCT mix-up changes the color set, and vice versa, so the
    two families of stats fail independently."""
    import numpy as np

    def stats(content):
        px, _fmt = _decode_any(content)
        if px is None:
            return None
        p = px[..., :3].astype(np.int64)
        packed = (p[..., 0] * 65536 + p[..., 1] * 256 + p[..., 2]).reshape(-1)
        # row-position-sensitive checksum: sum of row_index * row
        # red-sum, so a row permutation (interlace bug) breaks it even
        # though plain sums survive
        rpos = (
            np.arange(p.shape[0], dtype=np.int64) * p[..., 0].sum(axis=1)
        ).sum()
        return (
            *_px_sums(p),
            int(np.unique(packed).size),
            int(rpos),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_px long, sum_r long, sum_g long, sum_b long, "
        "n_colors long, row_weighted_r long",
        stats,
    )


def make_quadratic_pixels(width: int, height: int, seed: int = 0):
    """Deterministic QUADRATIC pattern: v = (3x^2 + 5y^2 + 7xy + seed)
    mod 256 — unlike the linear gradient (whose dHash collapses to
    'mostly increasing' for any seed, i.e. all gradients are
    perceptually alike), the curvature makes distinct seeds
    perceptually distinct while keeping <= 256 colors (GIF-safe)."""
    import numpy as np

    y = np.arange(height, dtype=np.int64)[:, None]
    x = np.arange(width, dtype=np.int64)[None, :]
    v = (x * x * 3 + y * y * 5 + x * y * 7 + seed) % 256
    return np.stack([v, (v + 85) % 256, (v + 170) % 256], axis=-1).astype(
        "uint8"
    )


def synthetic_crossformat_dup_table(spark, n_groups: int = 20) -> DataFrame:
    """Duplicate groups ACROSS container formats: group j's pixels are
    encoded three times — BMP, PNG, GIF (all lossless, so the decoded
    rasters are identical) — plus one singleton per group with a
    distinct seed. Byte-level hashing sees 3 x n_groups unrelated
    blobs; perceptual hashing must recover the groups. Quadratic
    pixels keep distinct groups perceptually distinct."""
    rows = []
    for j in range(n_groups):
        w, h = 24 + (j % 5) * 4, 16 + (j % 4) * 4
        px = make_quadratic_pixels(w, h, seed=j * 17 + 3)
        for m, enc in enumerate((encode_bmp, encode_png, encode_gif)):
            rows.append((j * 4 + m, enc(px), "dup"))
        solo = make_quadratic_pixels(
            20 + (j % 6) * 4, 14 + (j % 5) * 4, seed=j * 31 + 1000
        )
        rows.append((j * 4 + 3, encode_png(solo), "solo"))
    return _media_table(spark, "image", rows)


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash): decode -> integer luma
    ((299r + 587g + 114b) // 1000) -> nearest-neighbor resample to a
    9 x 5 grid (the (c*w)//9 index map q143 verifies) -> one bit per
    horizontal neighbor comparison -> 40-bit integer. All integer
    arithmetic, so an independent engine regenerates the hash
    bit-for-bit from the pixel closed form; 40 bits stay far inside
    int64. Identical rasters hash
    identically regardless of container format — the cross-format
    dedup signal exact byte hashing cannot see."""
    import numpy as np

    def dhash(content):
        px, _fmt = _decode_any(content)
        if px is None:
            return None
        p = px[..., :3].astype(np.int64)
        h, w = p.shape[:2]
        luma = (p[..., 0] * 299 + p[..., 1] * 587 + p[..., 2] * 114) // 1000
        xs = (np.arange(9, dtype=np.int64) * w) // 9
        ys = (np.arange(5, dtype=np.int64) * h) // 5
        grid = luma[np.ix_(ys, xs)]
        bits = (grid[:, 1:] > grid[:, :-1]).astype(np.int64)
        k = np.arange(5 * 8, dtype=np.int64).reshape(5, 8)
        return (int((bits << k).sum()),)

    return _map_media(
        df.select("media_id", "content"), "media_id long, dhash long", dhash
    )


def jpeg420_tile_value(i: int, by: int, bx: int) -> int:
    """Closed-form MCU-tile value for the subsampled corpus (q165)."""
    return (i * 17 + by * 29 + bx * 43) % 256


# q165's subsampling family: image i uses layout i%4; each constant
# tile spans one full MCU of that layout, so the chroma box-mean and
# nearest replication are identity on it and the q164 exactness
# argument carries over. (tile_w, tile_h) == (8*fh_luma, 8*fv_luma).
_JPG_FAMILY = (
    ("420", 16, 16),
    ("422", 16, 8),
    ("440", 8, 16),
    ("411", 32, 8),
)


def synthetic_jpeg420_table(spark, n: int = 40) -> DataFrame:
    """Deterministic subsampled baseline-JPEG table with an EXACT
    decode oracle: gray-in-RGB images of MCU-sized constant tiles,
    rotating through the full chroma-subsampling family — 4:2:0
    (16x16 MCU, the libjpeg/phone-camera default), 4:2:2 (16x8, the
    video/YUY2 layout), 4:4:0 (8x16), 4:1:1 (32x8, the DV layout).
    One tile spans a full MCU, so the box-mean downsample and the
    nearest-replication upsample are both identity on it and the
    q164 exactness argument (DC-only blocks, DC quant step < 8 at
    the 85-95 qualities used) carries over to every layout."""
    import numpy as np

    rows = []
    for i in range(n):
        sub, tw, th = _JPG_FAMILY[i % 4]
        nx, ny = 2 + (i % 3), 2 + (i % 2)
        img = _tile_raster(
            lambda by, bx: jpeg420_tile_value(i, by, bx), ny, nx, th, tw
        )
        rgb = np.stack([img, img, img], axis=-1)
        q = 85 + (i % 3) * 5
        rows.append(
            (i, encode_jpeg(rgb, quality=q, subsampling=sub), f"{sub}.jpg")
        )
    return _media_table(spark, "image", rows)


def synthetic_jpeg_table(spark, n: int = 60) -> DataFrame:
    """Deterministic baseline-JPEG table with an EXACT decode oracle.

    Each image is gray-in-RGB (r = g = b) and BLOCK-CONSTANT: every
    8x8 tile holds one value from ``jpeg_tile_value``. That makes the
    lossy pipeline bit-exact end-to-end: equal channels give exact
    Y = v, Cb = Cr = 128 (the color transform has no rounding
    ambiguity); a constant tile has only a DC coefficient, and the
    quality range used here keeps the DC quantization step below 8,
    so dequantized DC sits within 0.5/8 of the true value per pixel
    and the final round restores v exactly. DC deltas between tiles
    still sweep positive/negative magnitude categories, so Huffman
    DC prediction, EOB coding, both quant tables and all four Annex K
    code tables are on the verified path; AC/ZRL paths are covered by
    tolerance-bounded round-trip tests (tests/test_multimodal.py).
    Every fifth image re-encodes as EXTENDED sequential (SOF1 with
    Pq=1 16-bit quantization tables): the entropy coding is
    identical and DC entries are untouched, so the same closed form
    holds — but a decoder that misparses the 16-bit table stride or
    endianness desyncs the marker walk or scrambles the DC step and
    breaks the value hash. Every seventh image (i%7==3) additionally
    ships INSIDE a BI_JPEG BMP container (biBitCount=0, biSizeImage
    = payload length — the printer-driver passthrough layout): the
    magic-byte dispatch routes it through decode_bmp, which decodes
    the embedded stream with the in-house JPEG codec and cross-
    checks the header dimensions, and the same pixel closed form
    holds."""
    rows = []
    for i in range(n):
        w, h = 24 + (i % 4) * 8, 16 + (i % 3) * 8
        import numpy as np

        img = _tile_raster(
            lambda by, bx: jpeg_tile_value(i, by, bx), h // 8, w // 8, 8, 8
        )
        rgb = np.stack([img, img, img], axis=-1)
        q = 85 + (i % 3) * 5  # 85 / 90 / 95 — all keep DC step < 8
        content = encode_jpeg(rgb, quality=q, extended=(i % 5 == 4))
        if i % 7 == 3:
            content = encode_bmp_embedded(content, w, h, png=False)
        rows.append((i, content, "jpg"))
    return _media_table(spark, "image", rows)


def synthetic_ppm16_table(spark, n: int = 36) -> DataFrame:
    """Deterministic 16-bit PPM media table (maxval 65535, 2-byte
    big-endian samples): image i is w=15+(i%6)*3 by h=11+(i%4)*3 with
    base = (x*257 + y*509 + i*1021) mod 65536 and channel offsets
    (0, 21845, 43690) — q198's oracle replays the same closed form."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 15 + (i % 6) * 3, 11 + (i % 4) * 3
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        base = (x * 257 + y * 509 + i * 1021) % 65536
        px = np.stack(
            [base, (base + 21845) % 65536, (base + 43690) % 65536], axis=-1
        ).astype(np.uint16)
        rows.append((i, encode_ppm16(px), "ppm"))
    return _media_table(spark, "image", rows)


def synthetic_tiff16_table(spark, n: int = 30) -> DataFrame:
    """Deterministic 16-bit TIFF media table: image i is
    w=14+(i%5)*3 by h=10+(i%3)*4 with base = (x*263 + y*521 +
    i*1031) mod 65536 and channel offsets (0, 21845, 43690) —
    different multipliers from the 16-bit PPM corpus so q198's
    groups can't pass by accident. Containers rotate compression
    (none/PackBits/LZW/Deflate by i%4), byte order (i%2), the
    horizontal predictor (i%3==0), and the ORGANIZATION (i%5: strip
    chunky / 16x16 tiled with padded edge tiles / TILED+PLANAR
    per-component tile grids (gate retired round 9) / PlanarConfig-2
    component-major strips) — all lossless, so one closed form
    covers every layout."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        w, h = 14 + (i % 5) * 3, 10 + (i % 3) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        base = (x * 263 + y * 521 + i * 1031) % 65536
        px = np.stack(
            [base, (base + 21845) % 65536, (base + 43690) % 65536], axis=-1
        ).astype(np.uint16)
        rows.append(
            (
                i,
                encode_tiff(
                    px,
                    compression=comps[i % 4],
                    big_endian=bool(i % 2),
                    predictor=(i % 3 == 0),
                    rows_per_strip=4,
                    tile=(16, 16) if i % 5 in (2, 3) else None,
                    planar=(i % 5 in (3, 4)),
                ),
                "tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_subbyte_table(spark, n: int = 24) -> DataFrame:
    """Deterministic sub-byte TIFF media table (the fax/document
    class): image i is a depth-(1,2,4)[i%3] gray plane
    ``(x*3 + y*7 + i*11) mod 2^d`` at w=19+(i%4)*5, h=13+(i%5)*3,
    decoded to 8-bit via the exact 255/(2^d - 1) expansion.
    Containers rotate compression (i%4), byte order (i%2),
    WhiteIsZero (i%2 — the encoder inverts and the decoder
    re-inverts, so the closed form is container-independent), and
    organization (16x16 tiles when i%5==2)."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        d = (1, 2, 4)[i % 3]
        w, h = 19 + (i % 4) * 5, 13 + (i % 5) * 3
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        plane = ((x * 3 + y * 7 + i * 11) % (1 << d)).astype(np.uint8)
        rows.append(
            (
                i,
                encode_tiff(
                    plane,
                    compression=comps[i % 4],
                    depth=d,
                    big_endian=bool(i % 2),
                    white_is_zero=bool(i % 2),
                    rows_per_strip=4,
                    tile=(16, 16) if i % 5 == 2 else None,
                ),
                "sb.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_cmyk_table(spark, n: int = 26) -> DataFrame:
    """Deterministic CMYK TIFF media table (photometric 5): image
    i < 12 is w=15+(i%4)*4 by h=9+(i%3)*4 with inks
    C=(x*5+y*11+i*13)%256, M=(C+85)%256, Y=(C+170)%256,
    K=(x*3+y*7+i*19)%256 — the q198 oracle replays the naive
    uncalibrated conversion (255-ink)*(255-K)//255 closed-form.
    Containers rotate compression (i%4) and byte order (i%2);
    i%3==0 ships 16x16 tiled. Rows 12-17 (round 11) ship CMYK
    JPEG-IN-TIFF (compression 7 — the Adobe scanned-document class:
    4-component no-transform scans with C/M/Y/K component IDs):
    BLOCK-CONSTANT ink tiles C=(i*41+by*9+bx*23)%256 (+85/+170
    offsets), K=(i*17+by*5+bx*3)%256 at w=16+(i%3)*8, h=16+(i%2)*8
    keep every ink channel DC-only bit-exact; rotations cover 8-row
    strips (i%3==1), shared JPEGTables (i%3==2), 16x16 tiles
    (i%3==0), byte order (i%2), and the Adobe APP14 transform-0
    marker with numeric 1..4 component IDs on odd i (the layout
    real Adobe CMYK files carry — pixel-identical, oracle-
    invisible). Rows 18-23 ship YCCK (Adobe transform 2 — inverted
    CMY through the YCbCr matrix + K): GRAY ink tiles (C=M=Y, so
    the chroma channels are neutral and the transform is bit-exact)
    with the same tile formulas, rotating the same organizations.
    Rows 24-25 (round 12) ship CMYK ARITHMETIC JPEG-in-TIFF:
    4-component no-transform SOF9 scans through the QM-coder (CMYK
    component IDs, colored-ink tile formulas like rows 12-17) — 24
    as 16x16 tiles, 25 as 8-row big-endian strips; pixels bit-exact
    under the same DC-only argument, so the arms reuse the rows
    12-17 closed form. media_id offset +200 keeps ids disjoint
    inside the 'tiff' census group."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        if i < 12:
            w, h = 15 + (i % 4) * 4, 9 + (i % 3) * 4
            y = np.arange(h, dtype=np.int64)[:, None]
            x = np.arange(w, dtype=np.int64)[None, :]
            c = (x * 5 + y * 11 + i * 13) % 256
            cmyk = np.stack(
                [c, (c + 85) % 256, (c + 170) % 256,
                 (x * 3 + y * 7 + i * 19) % 256],
                axis=-1,
            ).astype(np.uint8)
            content = encode_tiff(
                cmyk,
                compression=comps[i % 4],
                big_endian=bool(i % 2),
                rows_per_strip=4,
                tile=(16, 16) if i % 3 == 0 else None,
            )
        else:
            w, h = 16 + (i % 3) * 8, 16 + (i % 2) * 8
            by = np.arange(h // 8, dtype=np.int64)[:, None]
            bx = np.arange(w // 8, dtype=np.int64)[None, :]
            ct = (i * 41 + by * 9 + bx * 23) % 256
            kt = (i * 17 + by * 5 + bx * 3) % 256
            one8 = np.ones((8, 8), np.int64)
            c = np.kron(ct, one8)
            k = np.kron(kt, one8)
            ycck = 18 <= i < 24
            if ycck:  # gray ink keeps the YCCK chroma neutral
                m_pl, y_pl = c, c
            else:
                m_pl, y_pl = (c + 85) % 256, (c + 170) % 256
            cmyk = np.stack(
                [c, m_pl, y_pl, k], axis=-1
            ).astype(np.uint8)
            arith_row = i >= 24
            content = encode_tiff_jpeg(
                cmyk,
                quality=85 + (i % 3) * 5,
                rgb_space=not ycck and not arith_row,
                adobe_transform=(
                    2 if ycck
                    else (0 if i % 2 and not arith_row else None)
                ),
                rows_per_strip=8 if i % 3 == 1 else 0,
                tile=(16, 16) if i % 3 == 0 else None,
                jpeg_tables=(i % 3 == 2 and not arith_row),
                big_endian=bool(i % 2),
                arith=arith_row,
            )
        rows.append(
            (
                200 + i,
                content,
                "cmyk.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_pcx_table(spark, n: int = 12) -> DataFrame:
    """Deterministic PCX table rotating FIVE layouts by i%5 (round
    10 widens from three: the EGA gates are retired) — 24bpp
    three-plane RGB (r = (x*11 + y*3 + i*23) mod 256, +85/+170
    offsets), 8bpp VGA-paletted (idx = (x*3 + y*5 + i*7) mod 256
    through pal[j] = ((j*7+5, j*3+57, j*13+19) mod 256)), 1bpp
    monochrome block patterns rendered *255, EGA bit-planes
    (2 + i%3 planes, idx = (x + y*2 + i) mod 2^planes), and packed
    4bpp (idx = (x*3 + y + i) mod 16; the i=9 row ships 2bpp CGA,
    mod 4) — the EGA layouts resolve
    through the 16-entry HEADER palette
    ((j*11+3, j*7+29, j*3+101) mod 256). q198's 'pcx' census group
    replays each closed-form."""
    import numpy as np

    j16 = np.arange(16, dtype=np.int64)
    pal16 = np.stack(
        [(j16 * 11 + 3) % 256, (j16 * 7 + 29) % 256,
         (j16 * 3 + 101) % 256], axis=-1
    ).astype(np.uint8)
    rows = []
    for i in range(n):
        w, h = 9 + (i % 4) * 5, 7 + (i % 3) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        v = i % 5
        if v == 0:
            r = (x * 11 + y * 3 + i * 23) % 256
            px = np.stack(
                [r, (r + 85) % 256, (r + 170) % 256], axis=-1
            ).astype(np.uint8)
            content = encode_pcx(px)
        elif v == 1:
            j = np.arange(256, dtype=np.int64)
            pal = np.stack(
                [(j * 7 + 5) % 256, (j * 3 + 57) % 256,
                 (j * 13 + 19) % 256], axis=-1
            ).astype(np.uint8)
            idx = ((x * 3 + y * 5 + i * 7) % 256).astype(np.uint8)
            content = encode_pcx(idx, palette=pal)
        elif v == 2:
            plane = (((x // (1 + i % 3)) + (y // (1 + i % 2)) + i) % 2
                     ).astype(np.uint8)
            content = encode_pcx(plane)
        elif v == 3:
            planes = 2 + i % 3
            idx = ((x + y * 2 + i) % (1 << planes)).astype(np.uint8)
            content = encode_pcx(idx, ega_planes=planes,
                                 palette16=pal16)
        else:
            d = 4 if i != 9 else 2  # i=9 ships the 2bpp CGA class
            idx = ((x * 3 + y + i) % (1 << d)).astype(np.uint8)
            content = encode_pcx(idx, bpp4=(d == 4), bpp2=(d == 2),
                                 palette16=pal16)
        rows.append((i, content, "pcx"))
    return _media_table(spark, "image", rows)


def synthetic_ico_table(spark, n: int = 12) -> DataFrame:
    """Deterministic ICO (favicon) table: file i's PRIMARY entry is
    w=10+(i%4)*4 by h=8+(i%3)*4 with r = (x*9 + y*5 + i*17) mod 256
    (+85/+170 channel offsets) and alpha 0 exactly where
    (x + y + i) mod 7 == 0 (binary — exact under every storage),
    stored as embedded PNG / 32bpp DIB / 24bpp DIB + AND mask /
    X1R5G5B5 16bpp DIB (round 10 — gate retired; top-5-bit channels
    bit-replicated on decode, the oracle's f555 arm) by i%4; files
    with i%4==0 carry a SECOND smaller 5x4 entry so the census
    exercises largest-entry selection. q198's 'ico' group replays
    the primary entry closed-form."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 10 + (i % 4) * 4, 8 + (i % 3) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        r = (x * 9 + y * 5 + i * 17) % 256
        alpha = np.where((x + y + i) % 7 == 0, 0, 255)
        px = np.stack(
            [r, (r + 85) % 256, (r + 170) % 256, alpha], axis=-1
        ).astype(np.uint8)
        kind = ("png", "bmp", "bmp24", "bmp16")[i % 4]
        entries = [(px, kind)]
        if i % 4 == 0:
            y2 = np.arange(4, dtype=np.int64)[:, None]
            x2 = np.arange(5, dtype=np.int64)[None, :]
            r2 = (x2 + y2 + i) % 256
            small = np.stack(
                [r2, r2, r2, np.full((4, 5), 255, np.int64)], axis=-1
            ).astype(np.uint8)
            entries.append((small, "png"))
        rows.append((i, encode_ico(entries), "ico"))
    return _media_table(spark, "image", rows)


def synthetic_pnm_table(spark, n: int = 20) -> DataFrame:
    """Deterministic netpbm family table (variants P1-P5 by i%5):
    ASCII/binary bitmaps use the block pattern ((x // (1+i%3)) +
    (y // (1+i%2)) + i) mod 2 (1 = black renders 0); ASCII
    gray/pixmaps carry maxval 255 on even i and 15 on odd (the
    round-half-up (v*255 + mv//2)//mv scaling on the non-255 rows);
    P3 channels offset by (mv+1)//3 steps; binary graymaps are 8-bit
    on even i and full-range 16-bit (maxval 65535, 2-byte big-endian)
    on odd. q198's oracle replays every variant closed-form in the
    'pnm' census group."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 9 + (i % 4) * 4, 7 + (i % 3) * 3
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        v = i % 5
        if v in (0, 3):
            plane = ((x // (1 + i % 3)) + (y // (1 + i % 2)) + i) % 2
            content = encode_pnm(plane, "P1" if v == 0 else "P4")
        elif v == 1:
            mv = 255 if i % 2 == 0 else 15
            g = (x * 5 + y * 9 + i * 7) % (mv + 1)
            content = encode_pnm(g, "P2", maxval=mv)
        elif v == 2:
            mv = 255 if i % 2 == 0 else 15
            base = (x * 5 + y * 9 + i * 7) % (mv + 1)
            d1 = (mv + 1) // 3
            px = np.stack(
                [base, (base + d1) % (mv + 1),
                 (base + 2 * d1) % (mv + 1)], axis=-1
            )
            content = encode_pnm(px, "P3", maxval=mv)
        elif i % 2 == 0:
            g = (x * 3 + y * 11 + i * 13) % 256
            content = encode_pnm(g, "P5", maxval=255)
        else:
            g = (x * 257 + y * 509 + i * 1021) % 65536
            content = encode_pnm(g, "P5", maxval=65535)
        rows.append((i, content, "pnm"))
    return _media_table(spark, "image", rows)


def synthetic_tiff_float_table(spark, n: int = 12) -> DataFrame:
    """Deterministic SampleFormat-3 float TIFF table (the
    elevation/HDR class): image i carries DYADIC sample values
    base + frac/16 (base = (x*7 + y*13 + i*3) mod 256, frac =
    (x + y + i) mod 16 — exact in float32), gray on even i and RGB
    (+85/+170 base offsets) on odd, float64 samples when i%3==0,
    rotating compression (i%4), byte order (i%2), and 4-row strips
    (i%3==1). Round 10 retires the float organization gates by
    rotating them in too — all LOSSLESS, so the oracle is
    organization-invisible but every row gates on decode: the
    TechNote-3 floating-point predictor on i%3!=2, 16x16 tile grids
    (partial edge tiles) on i%4 in (1,3), and planar configuration
    on i%4>=2. The census surfaces rint(v*16) micro-quantized ints
    (fmt 'tiff_f'), so the oracle's closed form is base*16 + frac
    exactly. media_id offset +800."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        w, h = 10 + (i % 4) * 4, 8 + (i % 3) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        base = (x * 7 + y * 13 + i * 3) % 256
        frac = ((x + y + i) % 16) / 16.0
        if i % 2 == 0:
            arr = base + frac
        else:
            arr = np.stack(
                [base + frac, (base + 85) % 256 + frac,
                 (base + 170) % 256 + frac], axis=-1
            )
        rows.append(
            (
                800 + i,
                encode_tiff_float(
                    arr,
                    compression=comps[i % 4],
                    big_endian=bool(i % 2),
                    rows_per_strip=4 if i % 3 == 1 else 0,
                    f64=(i % 3 == 0),
                    predictor=(i % 3 != 2),
                    tile=(16, 16) if i % 4 in (1, 3) else None,
                    planar=(i % 4 >= 2),
                ),
                "f.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tga_table(spark, n: int = 20) -> DataFrame:
    """Deterministic TGA media table: image i is w=11+(i%4)*5 by
    h=9+(i%3)*4 with base = (x*7 + y*13 + i*31) mod 256 and variant
    i%5 — 24bpp raw / 24bpp RLE / grayscale (8-bit, or round 10's
    16-bit gray+attribute on odd i — alpha is census-invisible but
    the 2-byte layout gates on decode) / 8-bit color-mapped
    (idx = (x + y*3 + i) mod 256 through the closed-form palette
    ((j*5+3, j*7+11, j*11+29) mod 256) — round 10 rotates the
    colormap LAYOUT gates in: X1R5G5B5 entries on i=3 (15-bit) and
    i=8 (16-bit), both 5-bit-quantized through the oracle's f555
    arm, and a nonzero first-entry offset on i=13 with idx
    re-ranged to 32 + (x + y*3 + i) mod 224) / 16bpp X1R5G5B5
    (top-5-bit channels bit-replicated back to 8; round 10 declares
    odd-i rows depth 15 — the attribute-bit-less variant, decode-
    identical). Orientation rotates (top-down unless i%3==0 — the
    bottom-up TGA default), RLE on odd i. All files carry the v2.0
    footer signature `_decode_any` dispatches on. media_id offset
    +700 in q198's 'tga' census group."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 11 + (i % 4) * 5, 9 + (i % 3) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        base = (x * 7 + y * 13 + i * 31) % 256
        rle = bool(i % 2)
        td = i % 3 != 0
        v = i % 5
        if v in (0, 1):
            px = np.stack(
                [base, (base + 85) % 256, (base + 170) % 256], axis=-1
            ).astype(np.uint8)
            content = encode_tga(px, rle=(v == 1), top_down=td)
        elif v == 2:
            if i % 2:
                ga = np.stack(
                    [base, (base * 3 + 7) % 256], axis=-1
                ).astype(np.uint8)
                content = encode_tga(ga, rle=rle, top_down=td,
                                     gray_alpha=True)
            else:
                content = encode_tga(base.astype(np.uint8), rle=rle,
                                     top_down=td)
        elif v == 3:
            pal_bits = {3: 15, 8: 16}.get(i, 24)
            cm_first = 32 if i == 13 else 0
            if cm_first:
                j = np.arange(cm_first, 256, dtype=np.int64)
                idx = (cm_first
                       + (x + y * 3 + i) % (256 - cm_first)).astype(
                    np.uint8
                )
            else:
                j = np.arange(256, dtype=np.int64)
                idx = ((x + y * 3 + i) % 256).astype(np.uint8)
            pal = np.stack(
                [(j * 5 + 3) % 256, (j * 7 + 11) % 256,
                 (j * 11 + 29) % 256], axis=-1
            ).astype(np.uint8)
            content = encode_tga(idx, rle=rle, top_down=td, palette=pal,
                                 pal_bits=pal_bits, cm_first=cm_first)
        else:
            px = np.stack(
                [base, (base + 85) % 256, (base + 170) % 256], axis=-1
            ).astype(np.uint8)
            content = encode_tga(px, rle=rle, top_down=td, bpp16=True,
                                 depth15=bool(i % 2))
        rows.append((700 + i, content, "tga"))
    return _media_table(spark, "image", rows)


def synthetic_tiff_pal16_table(spark, n: int = 6) -> DataFrame:
    """Deterministic 16-bit-index palette TIFF table (photometric 3,
    BitsPerSample 16 — the 65536-entry ColorMap gate retired round
    9): image i's indices are (x*271 + y*523 + i*1033) mod 65536 at
    w=9+(i%3)*5, h=7+(i%2)*4; the shared ColorMap entry j holds
    ((j*3+11, j*5+17, j*7+91) mod 65536) as native 16-bit entries, so
    the decoded 8-bit channel takes each value's high byte (entry >>
    8) — the closed form the oracle replays with integer division.
    Containers rotate compression (i%4) and byte order (i%2).
    media_id offset +400."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    j = np.arange(65536, dtype=np.int64)
    pal = np.stack(
        [(j * 3 + 11) % 65536 >> 8, (j * 5 + 17) % 65536 >> 8,
         (j * 7 + 91) % 65536 >> 8], axis=-1
    ).astype(np.uint8)
    rows = []
    for i in range(n):
        w, h = 9 + (i % 3) * 5, 7 + (i % 2) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        idx = ((x * 271 + y * 523 + i * 1033) % 65536).astype(np.uint16)
        rows.append(
            (
                400 + i,
                encode_tiff(
                    idx,
                    compression=comps[i % 4],
                    big_endian=bool(i % 2),
                    palette=pal,
                    rows_per_strip=4,
                ),
                "pal16.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_cmyk_subbyte_table(spark, n: int = 6) -> DataFrame:
    """Deterministic SUB-BYTE CMYK TIFF table (photometric 5 at
    BitsPerSample 2/4 — pixel-interleaved packed separations, the
    gate retired round 9): image i at depth d=(4 if i even else 2)
    carries inks C=(x*3+y*5+i*7) mod 2^d, M=C+1, Y=C+2 (mod 2^d),
    K=(x+y+i) mod 2^d; decode converts with the naive
    (full-ink)*(full-K)//full form at full=2^d-1 then expands by the
    exact 255/(2^d - 1). Containers rotate compression (i%4) and
    byte order (i%2). media_id offset +250."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        d = 4 if i % 2 == 0 else 2
        full = (1 << d) - 1
        w, h = 13 + (i % 3) * 4, 9 + (i % 2) * 4
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        c = (x * 3 + y * 5 + i * 7) % (full + 1)
        cmyk = np.stack(
            [c, (c + 1) % (full + 1), (c + 2) % (full + 1),
             (x + y + i) % (full + 1)],
            axis=-1,
        ).astype(np.uint8)
        rows.append(
            (
                250 + i,
                encode_tiff(
                    cmyk,
                    compression=comps[i % 4],
                    depth=d,
                    big_endian=bool(i % 2),
                    rows_per_strip=4,
                ),
                "sbcmyk.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_jpeg_table(spark, n: int = 30) -> DataFrame:
    """Deterministic JPEG-in-TIFF table (compression 7, TIFF TechNote
    2 — the scanned-page/digicam layout): image i is the established
    block-constant corpus (8x8 tiles of (i*41 + by*9 + bx*17) mod
    256, qualities 85-95 keep the DC quant step < 8, so the lossy
    pipeline is bit-exact) shipped as gray 1-component JPEG strips
    (photometric 1, odd i) or gray-in-RGB 4:4:4 strips (photometric
    6, even i). Rotations: shared-JPEGTables abbreviated streams
    (i%3==0) vs complete interchange strips, 8-row strip splits
    (i%5 in (0,2) — independent per-strip DC predictors), byte order
    (i%2); rows with i%13 in (4, 7) ship the DEPRECATED OLD-STYLE
    layout instead (round 10 — compression 6, one full interchange
    stream via JPEGInterchangeFormat/Length; same block-constant
    pixels, so the oracle is layout-invisible but the row gates on
    the tag-513 walk). Round 11 retires the remaining JPEG-in-TIFF
    organization gates by arm: TILED chunky (1, 8 — 16x16 tile
    JPEGs pasted into the grid, edge tiles padded), RGB-SPACE
    photometric 2 (2: 8-row strips; 5: 16x8 tiles) with TRUE-COLOR
    per-tile constants (r=t, g=(t+85)%256, b=(t+170)%256 — no color
    transform, so each channel is independently block-constant and
    bit-exact; the ONLY arms whose oracle sums differ per channel),
    and RGB-SPACE PLANAR (3: per-plane strips; 6: per-plane tiles —
    single-component scans, component-major). Round 12 widens the
    rotation to i%13 and retires the last organization gates:
    arm 9 is PLANAR YCBCR (photometric 6, PlanarConfiguration 2 —
    the Y plane full-size, Cb/Cr planes at the TIFF 6.0 §21
    SUBSAMPLED dims, odd i 4:2:0 with 16-row strips / even i 4:2:2
    ((2,1)) single-strip; gray raster keeps chroma constant-128 so
    the replication upsample + full-range inverse is bit-exact and
    the arm stays oracle-invisible), and arm 10 is PLANAR CMYK
    (photometric 5, four full-size single-component ink planes with
    C=M=Y=255-t, K=0 — the naive ink conversion lands back on t
    exactly: (255-(255-t))*255//255 = t), and arms 11/12 are the
    PER-STRIP OLD-STYLE layout (compression 6 WITHOUT
    JPEGInterchangeFormat: raw entropy strips + tables at tags
    519/520/521 — 11 gray 8-row strips, 12 chunky YCbCr 4:2:0 with
    an in-strip restart interval; gray rasters, oracle-invisible,
    gating on the _tiff_ojpeg_per_strip synthesis walk). The
    rotation widens to i%15 with arm 13 — TILED PLANAR YCBCR
    (round 12, the LAST JPEG-in-TIFF organization gate): per-plane
    16x16 tile grids, the chroma planes covering their SUBSAMPLED
    dims ((2,2) when i%4==1, (2,1) otherwise) with their own grids;
    gray rasters keep chroma constant-128, so the arm is
    oracle-invisible but gates on the per-plane grid walk — and
    arm 14, ARITHMETIC JPEG-in-TIFF (round 12): every strip a
    complete SOF9 interchange stream through the QM-coder, gray
    (odd i) or chunky YCbCr (even i), same block-constant
    bit-exactness. Round 13: the SECOND arm-7 row (i>=15) ships
    OLD-STYLE LOSSLESS instead — compression 6 with JPEGProc 14
    (``encode_tiff_ojpeg_lossless``): per-strip SOF3 entropy, a
    shared DC table at tag 520, predictors/Pt at 517/518, and
    non-MCU-aligned 5-row strips; lossless, so the pixels are
    exactly the raster and the arm is oracle-invisible while
    gating on the proc-14 walk. media_id offset +600."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 24 + (i % 3) * 8, 16 + (i % 2) * 16
        img = _tile_raster(
            lambda by, bx: (i * 41 + by * 9 + bx * 17) % 256,
            h // 8, w // 8, 8, 8,
        )
        arm = i % 15
        old = arm in (4, 7)
        per_strip = arm in (11, 12)
        rgbspace = arm in (2, 3, 5, 6)
        subsampling = None
        if rgbspace:
            i64 = img.astype(np.int64)
            src = np.stack(
                [i64 % 256, (i64 + 85) % 256, (i64 + 170) % 256], axis=-1
            ).astype(np.uint8)
        elif arm == 9:
            src = np.stack([img] * 3, axis=-1)
            subsampling = (2, 2) if i % 2 else (2, 1)
        elif arm == 10:
            ink = (255 - img.astype(np.int64)).astype(np.uint8)
            src = np.stack(
                [ink, ink, ink, np.zeros_like(ink)], axis=-1
            )
        elif arm == 11:
            src = img
        elif arm == 12:
            src = np.stack([img] * 3, axis=-1)
            subsampling = "420"
        elif arm == 13:
            src = np.stack([img] * 3, axis=-1)
            subsampling = (2, 2) if i % 4 == 1 else (2, 1)
        elif arm == 14:
            # round 12: ARITHMETIC JPEG-in-TIFF — every strip a
            # complete SOF9 interchange stream (TechNote 2 allows
            # any T.81-legal JPEG); gray or chunky-YCbCr, pixels
            # bit-exact on the block-constant corpus so the arm is
            # oracle-invisible but gates on the QM walk per strip
            src = img if i % 2 else np.stack([img] * 3, axis=-1)
        else:
            src = img if i % 2 else np.stack([img] * 3, axis=-1)
        tile = (
            (16, 16) if arm in (1, 8, 6, 13)
            else (16, 8) if arm == 5
            else None
        )
        if old or tile is not None:
            rps = 0
        elif arm in (9, 12):
            rps = 16 if h > 16 else 0
        elif arm == 11 or arm in (2, 3) or i % 5 in (0, 2):
            rps = 8
        else:
            rps = 0
        if arm == 7 and i >= 15:
            # round 13: the second arm-7 row ships OLD-STYLE
            # LOSSLESS (compression 6, JPEGProc 14 — the §22 layout
            # DNG's ancestors used): per-strip SOF3 entropy with a
            # shared DC table at tag 520, predictors/Pt at 517/518,
            # NON-MCU-aligned 5-row strips (lossless has no block
            # grid). Lossless, so the pixels are EXACTLY the
            # gray-in-RGB raster — oracle-invisible, gating on the
            # proc-14 synthesis walk.
            rows.append(
                (
                    600 + i,
                    encode_tiff_ojpeg_lossless(
                        src,
                        predictor=1 + (i % 7),
                        rows_per_strip=5,
                        big_endian=bool(i % 2),
                    ),
                    "jpg.tif",
                )
            )
            continue
        rows.append(
            (
                600 + i,
                encode_tiff_jpeg(
                    src,
                    quality=85 + (i % 3) * 5,
                    rows_per_strip=rps,
                    big_endian=bool(i % 2),
                    jpeg_tables=(i % 3 == 0 and not old
                                 and not per_strip and arm != 14),
                    old_style=old,
                    rgb_space=rgbspace,
                    tile=tile,
                    planar=arm in (3, 6, 9, 10, 13),
                    subsampling=subsampling,
                    per_strip_tables=per_strip,
                    restart_interval=2 if arm == 12 else 0,
                    arith=arm == 14,
                ),
                "jpg.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_ycbcr_table(spark, n: int = 32) -> DataFrame:
    """Deterministic YCbCr TIFF table (photometric 6 — the
    digicam-TIFF surface): image i generates Y/Cb/Cr SAMPLES directly
    (Y = (x*7 + y*13 + i*23) mod 256 at full res; Cb/Cr closed forms
    of the subsampled unit coords), so the oracle replays chroma
    replication + the exact full-range CCIR-601 float conversion
    (floor(x+0.5), clip — IEEE-deterministic, DuckDB-mirrorable)
    without needing an invertible RGB->YCbCr leg. Subsampling rotates
    (1,1)/(2,2)/(2,1) by i%3 over widths 11+(i%4)*7 and heights
    9+(i%3)*5 that are NOT unit multiples (pad units exercised);
    containers rotate compression (i%4), byte order (i%2), and
    4-row strips (i%5 != 0). Round 11 retires the
    ReferenceBlackWhite headroom gate by i%6: i%6==4 ships the
    VIDEO-RANGE tag (16,235 / 128,240 — the BT.601 capture layout;
    255/219 and 127/112 rescales are IEEE-double mirrorable), and
    i%6==5 an exact-5x layout (0,51 / 128,255 — Y codes held to %52
    so Yfull = code*5 is integer-exact); all other rows carry no
    tag and decode through the SAME general linear map, whose
    full-range default reduces to the old closed forms exactly.
    Round 12 retires the ORGANIZATION gates by i%7 (pixel-invisible
    — the codec layer is lossless, so the oracle is unchanged):
    i%7==3 planar strip sets (PlanarConfiguration 2, plain rasters,
    chroma at subsampled dims), i%7==5 tiled chunky data-unit grids
    (tile dims (4sh, 4sv) — edge pads exercised), i%7==6 tiled
    per-plane raster grids; and the CUSTOM-LUMA gate by i>=24: rows
    24-31 carry YCbCrCoefficients (1/4, 1/2, 1/4), whose exact-
    dyadic inverse (crk=cbk=1.5, gcr=gcb=0.75) the oracle replays
    closed-form through the same rbw map. media_id offset +500."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        sh, sv = [(1, 1), (2, 2), (2, 1)][i % 3]
        w, h = 11 + (i % 4) * 7, 9 + (i % 3) * 5
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        ymod = 52 if i % 6 == 5 else 256
        yp = ((x * 7 + y * 13 + i * 23) % ymod).astype(np.uint8)
        ta, td = -(-w // sh), -(-h // sv)
        uy = np.arange(td, dtype=np.int64)[:, None]
        ux = np.arange(ta, dtype=np.int64)[None, :]
        cb = ((ux * 11 + uy * 17 + i * 5) % 256).astype(np.uint8)
        cr = ((ux * 3 + uy * 19 + i * 29) % 256).astype(np.uint8)
        rbw = None
        if i % 6 == 4:
            rbw = [16, 1, 235, 1, 128, 1, 240, 1, 128, 1, 240, 1]
        elif i % 6 == 5:
            rbw = [0, 1, 51, 1, 128, 1, 255, 1, 128, 1, 255, 1]
        tile = (4 * sh, 4 * sv) if i % 7 in (5, 6) else None
        rows.append(
            (
                500 + i,
                encode_tiff_ycbcr(
                    yp, cb, cr, (sh, sv),
                    compression=comps[i % 4],
                    big_endian=bool(i % 2),
                    rows_per_strip=0 if i % 5 == 0 else 4,
                    rbw=rbw,
                    planar=i % 7 in (3, 6),
                    tile=tile,
                    luma=[1, 4, 1, 2, 1, 4] if i >= 24 else None,
                ),
                "ycc.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_fax_table(spark, n: int = 24) -> DataFrame:
    """Deterministic CCITT fax TIFF table (compressions 2/3/4 — the
    scanned-document class): image i is a bilevel plane at
    w=40+(i%5)*40 (up to 200 — run lengths cross the make-up-code
    boundary), h=16+(i%4)*6, pattern rotating by i%3 between block
    checkerboards (((x // (1+i%4)) + (y // (1+i%3)) + i) % 2), sparse
    dots ((x*5 + y*11 + i*3) % 37 == 0 — long white runs), and dense
    diagonal stripes ((x + 2y + i) % 5 < 2 — short alternating runs).
    Containers rotate the coding (Modified Huffman / G3 1-D / G3 2-D
    with tag bits / G4 by i%4), byte order (i%2), and strip
    organization (8-row strips when i%5==0 — each strip an
    independent coding block). Round 10 retires the remaining fax
    organization gates by rotating them in: 32x16 TILE grids on
    i%5 in (2,3) (per-tile independent coding blocks, partial edge
    tiles padded white) and the T4/T6Options UNCOMPRESSED bit on 2-D
    codings when i%6>=3 (every other row's prefix literal-coded via
    the 0000001-111 extension escape). Lossless, so both are
    oracle-invisible but gate on decode. All WhiteIsZero
    (photometric 0), the
    fax standard: pattern 1 = black-coded run = decoded 255 after the
    photometric inversion... inverted twice (encoder stores 1-v,
    CCITT codes stored-0 as white, decoder re-inverts), so the
    decoded gray equals pattern * 255 container-independently.
    media_id offset +300 keeps ids disjoint in the 'tiff' census
    group."""
    import numpy as np

    comps = ("ccitt_mh", "g3", "g3_2d", "g4")
    rows = []
    for i in range(n):
        w, h = 40 + (i % 5) * 40, 16 + (i % 4) * 6
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        if i % 3 == 0:
            plane = ((x // (1 + i % 4)) + (y // (1 + i % 3)) + i) % 2
        elif i % 3 == 1:
            plane = ((x * 5 + y * 11 + i * 3) % 37 == 0).astype(np.int64)
        else:
            plane = ((x + 2 * y + i) % 5 < 2).astype(np.int64)
        rows.append(
            (
                300 + i,
                encode_tiff(
                    plane.astype(np.uint8),
                    compression=comps[i % 4],
                    depth=1,
                    big_endian=bool(i % 2),
                    white_is_zero=True,
                    rows_per_strip=8 if i % 5 == 0 else 0,
                    tile=(32, 16) if i % 5 in (2, 3) else None,
                    ccitt_uncompressed=(
                        comps[i % 4] in ("g3_2d", "g4") and i % 6 >= 3
                    ),
                ),
                "fax.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_jpeg_rst_table(spark, n: int = 36) -> DataFrame:
    """Deterministic restart-interval JPEG table: the q164
    block-constant gray corpus (bit-exact decode, see
    ``synthetic_jpeg_table``) re-encoded with a DRI of 1+(i%4) MCUs,
    so every stream carries ceil(mcus/dri)-1 RSTm markers and the
    decoder's realignment + predictor-reset path is on the verified
    path for every image. Rows with i%6==5 (round 10) ship 12-BIT
    extended-sequential instead (``encode_jpeg12``, tile value
    (t*16 + i) mod 4096): gray, or 4:4:4 gray-in-RGB COLOR on
    i%12==11 (round 11 — neutral chroma Cb=Cr=2048 exactly, so the
    color path decodes to the same raster and the fold is
    oracle-invisible). The unscaled quantization table keeps the
    block-constant DC step < 8, so the 12-bit pipeline — level shift
    2048, optimal DC tables with categories past Annex K's range,
    uint16 rasters — is bit-exact under the same argument. Round 13:
    the i%12==5 gray-12 rows sub-rotate by i//12 — 5 ships 12-BIT
    ARITHMETIC gray (``encode_jpeg_arith12``, SOF9 precision 12,
    no-DAC defaults), 17 the same with custom DAC conditioning, 29
    12-bit ARITHMETIC 4:4:4 gray-in-RGB color (neutral chroma
    Cb=Cr=2048) — pixels and the aux restart count are identical to
    the Huffman-12 layout, so the fold is oracle-invisible but those
    rows gate on the precision-parameterized QM walk. Rows with
    i%6==4 (round 12) ship ARITHMETIC sequential (SOF9) instead —
    the same coefficients through the T.81 Annex D QM-coder with the
    family's DRI rotation (per-segment coder + statistics resets),
    custom DAC conditioning on i%12==4 and the no-DAC defaults path
    (as gray-in-RGB color) on i%12==10; pixels and the aux restart
    count are both layout-invariant, so the fold is
    oracle-invisible but gates on the whole arithmetic walk."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 24 + (i % 4) * 8, 16 + (i % 3) * 8
        img = _tile_raster(
            lambda by, bx: jpeg_tile_value(i, by, bx), h // 8, w // 8, 8, 8
        )
        rgb = np.stack([img, img, img], axis=-1)
        q = 85 + (i % 3) * 5  # DC quant step stays < 8
        if i % 6 == 5:
            img12 = (img.astype(np.int64) * 16 + i) % 4096
            raster12 = img12.astype(np.uint16)
            if i % 12 == 11:  # 4:4:4 gray-in-RGB color sub-rotation
                raster12 = np.stack([raster12] * 3, axis=-1)
                content = encode_jpeg12(
                    raster12, quality=q,
                    restart_interval=1 + (i % 4),
                )
            else:
                # round 13: the gray-12 rows ride SOF9 precision 12
                # (arithmetic) — i//12 rotates no-DAC defaults /
                # custom conditioning / 4:4:4 gray-in-RGB color
                arm = i // 12
                if arm == 2:
                    raster12 = np.stack([raster12] * 3, axis=-1)
                content = encode_jpeg_arith12(
                    raster12, quality=q,
                    restart_interval=1 + (i % 4),
                    dc_cond=(1, 2) if arm == 1 else (0, 1),
                    ac_kx=12 if arm == 1 else 5,
                    emit_dac=(arm != 0),
                )
        elif i % 6 == 4:
            # round 12: ARITHMETIC sequential (SOF9) — the same
            # quantized coefficients through the T.81 Annex D
            # QM-coder, bit-exact on the block-constant corpus and
            # restart-structure-identical, so the fold is
            # oracle-invisible (pixels AND the aux restart count);
            # i%12==4 ships custom DAC conditioning (L=1, U=2,
            # Kx=12), i%12==10 the no-DAC defaults path as 4:4:4
            # gray-in-RGB color
            src = np.stack([img] * 3, axis=-1) if i % 12 == 10 else img
            content = encode_jpeg_arith(
                src, quality=q, restart_interval=1 + (i % 4),
                dc_cond=(1, 2) if i % 12 == 4 else (0, 1),
                ac_kx=12 if i % 12 == 4 else 5,
                emit_dac=(i % 12 == 4),
            )
        else:
            content = encode_jpeg(
                rgb, quality=q, restart_interval=1 + (i % 4)
            )
        rows.append(
            (
                i,
                content,
                "jpg",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_jpeg_ll_table(spark, n: int = 21) -> DataFrame:
    """Deterministic LOSSLESS-JPEG table (T.81 process 14, SOF3 —
    gate retired round 10): image i carries the full-entropy
    gradient v = (x*37 + y*101 + i*53) mod 2^p at w=9+(i%4)*5,
    h=7+(i%3)*4 — lossless, so unlike the DCT corpora NO
    block-constant trick is needed and every predictor/precision
    combination is value-verified. Rotation: precision p =
    (8, 12, 16) by i%3 (12/16-bit ship uint16 — the DNG/DICOM
    class), gray on even i / RGB (+2^p//4, +2^p//2 channel offsets)
    on odd, predictor 1 + i%7 (all SEVEN T.81 selectors), point
    transform 1 on i%6>=3 (decoded samples read (v div 2) * 2),
    row-aligned restart intervals of 3 rows on i%4==1 (aux counts
    the RSTm markers: (h-1) div 3). media_id offset +900 in q198's
    'jpeg_ll' census group."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 9 + (i % 4) * 5, 7 + (i % 3) * 4
        p = (8, 12, 16)[i % 3]
        pt = 1 if i % 6 >= 3 else 0
        y = np.arange(h, dtype=np.int64)[:, None]
        x = np.arange(w, dtype=np.int64)[None, :]
        v = (x * 37 + y * 101 + i * 53) % (1 << p)
        dt = np.uint8 if p == 8 else np.uint16
        if i % 2 == 0:
            arr = v.astype(dt)
        else:
            off = (1 << p) // 4
            arr = np.stack(
                [v, (v + off) % (1 << p), (v + 2 * off) % (1 << p)],
                axis=-1,
            ).astype(dt)
        rows.append(
            (
                900 + i,
                encode_jpeg_lossless(
                    arr,
                    predictor=1 + i % 7,
                    point_transform=pt,
                    restart_rows=3 if i % 4 == 1 else 0,
                    precision=p,
                ),
                "ljpg",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_jpeg_prog_table(spark, n: int = 36) -> DataFrame:
    """Deterministic progressive-JPEG table: block-constant gray
    tiles (value (i*37 + by*11 + bx*5) mod 256 — a different formula
    from the baseline/restart corpora so q198 can't pass by
    accident), sizes w=24+(i%3)*8, h=16+(i%4)*8, encoded through the
    full SOF2 scan script. DC-only spectra + DC quant step < 8 keep
    decode bit-exact (q164's argument), so the successive-
    approximation DC cascade and every EOB-run AC scan are on the
    value-verified path. Every third image (i%3==2) adds a DRI of
    1+(i%5) MCUs, splitting all 10 scans into restart segments —
    q198's aux (scans*1000 + restarts, structural marker walk)
    verifies the exact per-scan RST census and the decode hash
    verifies each segment's entropy reset. Rows with i%3==1 (round
    10) ship 4:2:0 SUBSAMPLED progressive — interleaved-MCU DC
    scans, per-component AC block rasters, chroma box-mean +
    replication — still bit-exact on the block-constant corpus
    (neutral chroma is constant 128 through the box mean), so the
    fold is oracle-invisible but those rows gate on the subsampled
    scan geometry; they carry no restarts, keeping the aux formula's
    uniform per-scan RST count exact for the restarted rows.

    Round 13: odd rows (i%2==1) re-code through SOF10 — PROGRESSIVE
    ARITHMETIC (the Annex G.2 models over the QM-coder). Crossed
    with the i%3 rotation this ships arithmetic plain-4:4:4 (i%6=3),
    arithmetic 4:2:0 (i%6=1), and arithmetic WITH restart segments
    (i%6=5). Decoded pixels and the scans*1000+restarts aux are
    identical to the Huffman layout (same script, same restart
    cadence, same block-constant bit-exactness), so the fold is
    oracle-invisible while the odd rows gate on the whole SOF10
    walk. The i%6=5 rows additionally ship PRECISION 12 (tile value
    (t*16+i) mod 4096, the jpg-family 12-bit formula): 12-bit
    arithmetic progressive WITH restarts — this arm IS
    oracle-visible (the qv CASE replays the 12-bit values) and
    bit-exact under the same small-DC-step argument. The i%12==8
    rows ship the HUFFMAN half of that matrix — 12-bit SOF2 with
    restarts (per-scan optimal DC table past Annex K's category
    range) — same 12-bit tile formula, also oracle-visible; i%12==2
    rows stay 8-bit Huffman restarted so that class keeps census
    coverage."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 24 + (i % 3) * 8, 16 + (i % 4) * 8
        img = _tile_raster(
            lambda by, bx: (i * 37 + by * 11 + bx * 5) % 256,
            h // 8, w // 8, 8, 8,
        )
        rgb = np.stack([img, img, img], axis=-1)
        q = 85 + (i % 3) * 5
        ri = (1 + i % 5) if i % 3 == 2 else 0
        if i % 6 == 5 or i % 12 == 8:
            img12 = (img.astype(np.int64) * 16 + i) % 4096
            rgb12 = np.stack([img12.astype(np.uint16)] * 3, axis=-1)
            enc12 = (
                encode_jpeg_arith_progressive if i % 6 == 5
                else encode_jpeg_progressive
            )
            content = enc12(
                rgb12, quality=q, restart_interval=ri, precision=12
            )
        else:
            encoder = (
                encode_jpeg_arith_progressive if i % 2
                else encode_jpeg_progressive
            )
            content = encoder(
                rgb, quality=q, restart_interval=ri,
                subsampling="420" if i % 3 == 1 else "444",
            )
        rows.append(
            (
                i,
                content,
                "jpg",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_png_table(spark, n: int = 80) -> DataFrame:
    """Deterministic PNG media table: the same gradient pixels as
    ``synthetic_media_table`` (different size formula so q147 can't
    accidentally pass against q139's corpus), encoded through the real
    DEFLATE path with the filter cycle 0..4 by row — so decoding
    exercises every unfilter branch on every image taller than 4 px."""
    rows = []
    for i in range(n):
        w, h = 16 + (i % 6) * 4, 16 + (i % 4) * 4
        px = make_test_pixels(w, h, seed=i)
        rows.append((i, encode_png(px), "png"))
    return _media_table(spark, "image", rows)


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT, 8-bit, 4:4:4 / 4:2:0 / grayscale,
# DRI/RSTm restart intervals; progressive SOF2 below): pure numpy +
# stdlib — Annex K quantization/Huffman tables, canonical code
# construction, byte-stuffed entropy stream. Arithmetic coding and
# 12-bit color gate through ``require_codec``;
# structural damage raises ValueError (corrupt files surface as null
# rows, not task failures).
# ---------------------------------------------------------------------------

_JPG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# ITU-T T.81 Annex K.1 example quantization tables
_JPG_QL = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPG_QC = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
_JPG_HUFF = {
    (0, 0): ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
             list(range(12))),
    (0, 1): ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12))),
    (1, 0): ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
             [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31,
              0x41, 0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32,
              0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52,
              0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
              0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28, 0x29, 0x2A,
              0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
              0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57,
              0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
              0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83,
              0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93, 0x94,
              0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
              0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
              0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
              0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8,
              0xD9, 0xDA, 0xE1, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8,
              0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
              0xF9, 0xFA]),
    (1, 1): ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
             [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06,
              0x12, 0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81,
              0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33,
              0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
              0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26, 0x27, 0x28,
              0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
              0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56,
              0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
              0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A,
              0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92,
              0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
              0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
              0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
              0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
              0xD7, 0xD8, 0xD9, 0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7,
              0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
              0xF9, 0xFA]),
}


def _jpg_canonical_codes(bits, huffval):
    """Canonical Huffman per T.81 C.2: symbol -> (code, length)."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[huffval[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpg_decode_table(bits, huffval):
    """(length, code) -> symbol map for the decoder."""
    enc = _jpg_canonical_codes(bits, huffval)
    return {(ln, code): sym for sym, (code, ln) in enc.items()}


def _jpg_quant_tables(quality: int):
    """libjpeg quality scaling of the Annex K tables."""
    import numpy as np

    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_JPG_QL, _JPG_QC):
        t = [(min(255, max(1, (v * scale + 50) // 100))) for v in base]
        out.append(np.array(t, dtype=np.int64).reshape(8, 8))
    return out


@functools.cache
def _jpg_dct_mat():
    """The orthonormal 8x8 DCT-II matrix, built once per process and
    shared read-only by every encoder and decoder block."""
    import numpy as np

    k = np.arange(8)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
    c[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    c.flags.writeable = False
    return c


class _JpgBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


class _JpgCensus(dict):
    """Stands in for a Huffman code table: counts each symbol looked
    up instead of coding it, so an optimal-table census (T.81 K.2)
    runs the scan's own coder and cannot disagree with it."""

    def __getitem__(self, sym):
        self[sym] = self.get(sym, 0) + 1
        return (0, 0)


def _jpg_category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _jpg_put_dc(wr, dc_codes, diff: int) -> None:
    """One DC difference (F.1.2.1): its category's code, then the
    category's low bits (negative values biased by 2^cat - 1)."""
    cat = _jpg_category(diff)
    wr.put(*dc_codes[cat])
    if cat:
        wr.put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)


def _jpg_encode_block(wr, coefs, dc_codes, ac_codes, pred):
    """Huffman-encode one zigzagged coefficient block; returns new DC
    predictor."""
    dc = int(coefs[0])
    _jpg_put_dc(wr, dc_codes, dc - pred)
    run = 0
    last = 63
    while last > 0 and coefs[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            wr.put(code, ln)
            run -= 16
        cat = _jpg_category(v)
        code, ln = ac_codes[(run << 4) | cat]
        wr.put(code, ln)
        wr.put(v if v >= 0 else v + (1 << cat) - 1, cat)
        run = 0
    if last < 63:
        code, ln = ac_codes[0x00]  # EOB
        wr.put(code, ln)
    return dc


def _jpg_pad(plane, ph, pw):
    """Edge-replicate ``plane`` up to (ph, pw)."""
    import numpy as np

    h, w = plane.shape
    p = np.zeros((ph, pw), dtype=np.float64)
    p[:h, :w] = plane
    if w < pw:
        p[:h, w:] = plane[:, -1:]
    if h < ph:
        p[h:, :] = p[h - 1 : h, :]
    return p


def _jpg_seg(marker, payload):
    """One JPEG marker segment: FF <marker> + 2-byte length + payload
    (the length counts itself, per B.1.1.4)."""
    return (
        bytes([0xFF, marker])
        + struct.pack(">H", len(payload) + 2)
        + payload
    )


def _jpg_dqt_seg(tid: int, tab, wide: bool = False) -> bytes:
    """One DQT segment with the 8x8 table serialized in zigzag order
    (B.2.4.1): Pq=0 8-bit entries, or Pq=1 16-bit big-endian when
    ``wide`` (the extended-sequential allowance). Shared by every
    encoder variant here (round-15 fold of six per-variant copies)."""
    vals = [int(tab.reshape(-1)[z]) for z in _JPG_ZIGZAG]
    if wide:
        body = bytes([0x10 | tid]) + b"".join(
            struct.pack(">H", v) for v in vals
        )
    else:
        body = bytes([tid]) + bytes(vals)
    return _jpg_seg(0xDB, body)


def _jpg_dht_seg(cls: int, tid: int, bits, vals) -> bytes:
    """One DHT segment (B.2.4.2): the Tc|Th nibble byte, the 16
    per-length code counts, then the symbol values — the shape every
    Huffman-table emission here shares (round-15 fold)."""
    return _jpg_seg(
        0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    )


def _jpg_sof_payload(precision: int, h: int, w: int, comps) -> bytes:
    """SOFn/DHP frame-header payload (B.2.2): sample precision,
    dimensions, then one (component id, H|V sampling nibbles,
    quant-table id) triple per component. ``comps`` is a sequence of
    (cid, hi, vi, tq). Round-15 fold of seven per-variant copies."""
    sof = struct.pack(">BHHB", precision, h, w, len(comps))
    for cid, hi, vi, tq in comps:
        sof += bytes([cid, (hi << 4) | vi, tq])
    return sof


def _jpg_sos_payload(comps, ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS payload (B.2.3): component count, one (id, DC|AC table
    nibbles) pair per component, then spectral selection ``ss``..``se``
    and the successive-approximation nibbles Ah|Al — 0, 63, 0, 0 in a
    sequential DCT scan; a lossless scan carries its predictor in Ss
    and its point transform in Al. ``comps`` is a sequence of (cid,
    td, ta)."""
    sos = bytes([len(comps)])
    for cid, td, ta in comps:
        sos += bytes([cid, (td << 4) | ta])
    return sos + bytes([ss, se, (ah << 4) | al])


_JPG_SUBSAMP = {
    "444": (1, 1),
    "420": (2, 2),
    "422": (2, 1),
    "440": (1, 2),
    "411": (4, 1),
}
# encoder component layout -> channel counts it takes (None: (h, w) gray)
_JPG_SPACES = {"ycbcr": (None, 3), "rgb_space": (3, 4), "ycck": (4,)}
# libjpeg's R/G/B and C/M/Y/K component ids for untransformed layouts
_JPG_LETTER_IDS = {3: (0x52, 0x47, 0x42), 4: (0x43, 0x4D, 0x59, 0x4B)}


def _jpg_color_planes(arr, precision: int, space: str):
    """The one encoder input rule and forward color transform: samples
    in [0, 2^P - 1] -> (float64 component planes, quant-table id per
    component). ``space`` 'ycbcr' takes (h, w) gray or (h, w, 3) RGB
    through the CCIR-601 matrix centred on 2^(P-1), rounded half up;
    'rgb_space' keeps 3 (R/G/B) or 4 (C/M/Y/K) channels untransformed,
    all on the luma table; 'ycck' takes CMYK as inverted CMY through
    the same matrix plus K untouched (the Adobe transform-2 layout).
    Raises ValueError on a sample out of range or a channel count the
    layout does not take."""
    import numpy as np

    a = np.asarray(arr)
    full = (1 << precision) - 1
    nch = a.shape[2] if a.ndim == 3 else None if a.ndim == 2 else 0
    if nch not in _JPG_SPACES[space]:
        raise ValueError(f"{space} JPEG cannot encode samples of shape {a.shape}")
    if a.size and not (a.min() >= 0 and a.max() <= full):
        raise ValueError(f"{precision}-bit JPEG samples must lie in [0, {full}]")
    a = a.astype(np.uint8 if precision == 8 else np.uint16).astype(np.float64)
    if nch is None:
        return [a], [0]
    if space == "rgb_space":
        return [a[..., c] for c in range(nch)], [0] * nch
    rgb = 255.0 - a[..., :3] if space == "ycck" else a
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    lvl = float(1 << (precision - 1))
    planes = [
        np.clip(np.floor(x + 0.5), 0, full)
        for x in (
            0.299 * r + 0.587 * g + 0.114 * b,
            lvl - 0.168735892 * r - 0.331264108 * g + 0.5 * b,
            lvl + 0.5 * r - 0.418687589 * g - 0.081312411 * b,
        )
    ]
    if space == "ycck":
        return planes + [a[..., 3]], [0, 1, 1, 0]
    return planes, [0, 1, 1]


def _jpg_box_mean(plane, fv: int, fh: int):
    """Round-half-up mean over fv x fh boxes of ``plane``, its edges
    replicated to whole boxes -> int64 plane of the ceil dims: the
    chroma downsample and the hierarchical pyramid's reduction."""
    import numpy as np

    h, w = plane.shape
    eh, ew = -(-h // fv) * fv, -(-w // fh) * fh
    s = _jpg_pad(plane, eh, ew).astype(np.int64).reshape(
        eh // fv, fv, ew // fh, fh
    ).sum(axis=(1, 3))
    return (s + fh * fv // 2) // (fh * fv)


def _jpg_fdct_grid(plane, qt):
    """Forward DCT and quantization (float64 DCT-II, round half away
    from zero) of every 8x8 block of a padded, level-shifted plane ->
    (rows, cols, 64) int64 coefficient grid in zigzag order."""
    import numpy as np

    dctm = _jpg_dct_mat()
    zz = np.array(_JPG_ZIGZAG)
    c = np.zeros((plane.shape[0] // 8, plane.shape[1] // 8, 64), np.int64)
    for by, bx in np.ndindex(*c.shape[:2]):
        f = dctm @ plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] @ dctm.T
        qf = np.floor(np.abs(f) / qt + 0.5).astype(np.int64) * np.where(
            f < 0, -1, 1
        )
        c[by, bx] = qf.reshape(-1)[zz]
    return c


def _jpg_quantized_coefs(arr, ql, qc, subsampling: str, precision: int,
                         space: str):
    """The one DCT-encoder front end: image -> (coefs, samp, tqs, h, w)
    with, per component, a (mcuy*vi, mcux*hi, 64) int64 zigzag grid
    over its MCU-padded plane, its (hi, vi) sampling factors and its
    quant-table id (0 -> ``ql``, 1 -> ``qc``). Input rule and color
    transform per ``_jpg_color_planes``; subsampled YCbCr chroma is the
    box mean of the rounded full-res plane (luma carries the factors);
    every plane is edge-replicated to the MCU grid and level-shifted
    by 2^(P-1). Sequential, progressive and arithmetic streams of one
    image at one quality therefore code the SAME coefficients."""
    import numpy as np

    if subsampling not in _JPG_SUBSAMP:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if space != "ycbcr" and subsampling != "444":
        raise ValueError(f"{space} needs 4:4:4 sampling")
    planes, tqs = _jpg_color_planes(arr, precision, space)
    h, w = planes[0].shape
    samp = [(1, 1)] * len(planes)
    if space == "ycbcr" and len(planes) == 3:
        fh, fv = _JPG_SUBSAMP[subsampling]
        samp = [(fh, fv), (1, 1), (1, 1)]
        planes = planes[:1] + [
            _jpg_box_mean(p, fv, fh).astype(np.float64) for p in planes[1:]
        ]
    mcux, mcuy = -(-w // (8 * samp[0][0])), -(-h // (8 * samp[0][1]))
    lvl = float(1 << (precision - 1))
    coefs = [
        _jpg_fdct_grid(
            _jpg_pad(p, mcuy * vi * 8, mcux * hi * 8) - lvl, qc if t else ql
        )
        for p, (hi, vi), t in zip(planes, samp, tqs)
    ]
    return coefs, samp, tqs, h, w


def _jpg_mcu_blocks(coefs, samp, ri: int) -> list:
    """The encoders' one MCU walk: interleaved block order over the grids
    ``coefs`` (T.81 A.2.3: per MCU, each component's hi x vi blocks
    in raster order), split into restart segments of ``ri`` MCUs (one
    segment when ri is 0) -> list of segments, each a list of
    (component, block row, block column). A non-interleaved scan is
    the [(1, 1)] case over its component's own block raster."""
    hi0, vi0 = samp[0]
    mcus = [
        [
            (ci, my * vi + v, mx * hi + hh)
            for ci, (hi, vi) in enumerate(samp)
            for v in range(vi)
            for hh in range(hi)
        ]
        for my in range(coefs[0].shape[0] // vi0)
        for mx in range(coefs[0].shape[1] // hi0)
    ]
    n = ri or len(mcus)
    return [
        [blk for mcu in mcus[i : i + n] for blk in mcu]
        for i in range(0, len(mcus), n)
    ]


def _jpg_scan_entropy(segs, coder, code) -> bytes:
    """Entropy-coded data of one scan: ``code(c, seg)`` codes each
    restart segment of the walk on a fresh ``coder()``
    (``_JpgBitWriter`` or ``_QmEncoder``), whose flush ends the
    segment (1-fill to a byte, or the Annex D flush); RSTm markers, m
    cycling 0-7, join the segments (T.81 B.2.1, E.1.4)."""
    out = bytearray()
    for si, seg in enumerate(segs):
        if si:
            out += bytes([0xFF, 0xD0 + (si - 1) % 8])
        c = coder()
        code(c, seg)
        out += c.flush()
    return bytes(out)


def _jpg_huff_seq_entropy(coefs, segs, tabs, differential: bool) -> bytes:
    """Sequential Huffman scan (F.1.2) over the MCU walk ``segs``;
    ``tabs[ci]`` = (dc_codes, ac_codes). DC predictors start at 0 in
    each restart segment and stay 0 in a hierarchical differential
    frame (J.1)."""

    def code(wr, seg):
        preds = [0] * len(coefs)
        for ci, by, bx in seg:
            dc = _jpg_encode_block(wr, coefs[ci][by, bx], *tabs[ci], preds[ci])
            if not differential:
                preds[ci] = dc

    return _jpg_scan_entropy(segs, _JpgBitWriter, code)


def _jpg_dri_seg(ri: int) -> bytes:
    """DRI segment (B.2.4.4); empty when restart intervals are off."""
    return _jpg_seg(0xDD, struct.pack(">H", ri)) if ri else b""


def _jpg_dac_seg(tqs, dc_cond, ac_kx: int, emit_dac: bool) -> bytes:
    """The one DAC conditioning check and segment (B.2.4.3): DC (L, U)
    = ``dc_cond`` and AC Kx for every table in ``tqs``. Empty when not
    ``emit_dac``, which only the decoder's defaults (L=0, U=1, Kx=5)
    allow."""
    low, up = dc_cond
    if not (0 <= low <= up <= 15):
        raise ValueError("DC conditioning needs 0 <= L <= U <= 15")
    if not 1 <= ac_kx <= 63:
        raise ValueError("AC conditioning needs 1 <= Kx <= 63")
    if not emit_dac:
        if (low, up) != (0, 1) or ac_kx != 5:
            raise ValueError("omitting DAC requires the default conditioning")
        return b""
    return _jpg_seg(0xCC, b"".join(
        bytes([t, (up << 4) | low, 0x10 | t, ac_kx]) for t in sorted(set(tqs))
    ))


def encode_jpeg12(arr, quality: int = 90,
                  restart_interval: int = 0) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint16 (< 4096) -> 12-bit
    EXTENDED SEQUENTIAL JPEG (SOF1, the DICOM/DNG precision class,
    gate retired round 10; 4:4:4 color added in the follow-up):
    level shift 2048 (YCbCr relations centered likewise), the
    UNSCALED 8-bit-domain Annex-K quantization tables (spec-legal at
    any precision; the small DC step keeps block-constant corpora
    bit-exact exactly as at 8-bit), and OPTIMAL Huffman tables built
    from the image's own symbol census — 12-bit DC categories reach
    15, past the fixed Annex K tables' range. Optional restart
    intervals as in ``encode_jpeg``."""
    ql, qc = _jpg_quant_tables(quality)
    coefs, samp, tqs, h, w = _jpg_quantized_coefs(
        arr, ql, qc, "444", 12, "ycbcr"
    )
    nc = len(coefs)
    segs = _jpg_mcu_blocks(coefs, samp, restart_interval)
    # symbol census -> optimal DC/AC tables (T.81 K.2), one pair
    # shared by luma and chroma (the census covers all components)
    census = (_JpgCensus(), _JpgCensus())
    _jpg_huff_seq_entropy(coefs, segs, [census] * nc, False)
    (dc_bits, dc_vals), (ac_bits, ac_vals) = map(_jpg_optimal_table, census)
    tab = (_jpg_canonical_codes(dc_bits, dc_vals),
           _jpg_canonical_codes(ac_bits, ac_vals))
    return (
        b"\xff\xd8"
        + _jpg_dqt_seg(0, ql)
        + (_jpg_dqt_seg(1, qc) if nc > 1 else b"")
        + _jpg_dht_seg(0, 0, dc_bits, dc_vals)
        + _jpg_dht_seg(1, 0, ac_bits, ac_vals)
        + _jpg_dri_seg(restart_interval)
        + _jpg_seg(0xC1, _jpg_sof_payload(12, h, w, [
            (ci + 1, 1, 1, t) for ci, t in enumerate(tqs)
        ]))
        + _jpg_seg(0xDA, _jpg_sos_payload(
            [(ci + 1, 0, 0) for ci in range(nc)], 0, 63, 0, 0
        ))
        + _jpg_huff_seq_entropy(coefs, segs, [tab] * nc, False)
        + b"\xff\xd9"
    )


def _jpg_ll_category(d: int) -> int:
    """Lossless-JPEG difference category (spec H.2): SSSS 16 encodes
    exactly -32768 with no appended bits; 0 encodes 0."""
    return 16 if d == -32768 else (0 if d == 0 else abs(d).bit_length())


def _jpg_ll_emit_symbol(wr, codes, d: int) -> None:
    """Emit one lossless difference: category code + appended bits
    (negative bias d + 2^s - 1). Shared by encode_jpeg_lossless and
    the old-style-TIFF per-strip encoder (round-13 review: one
    category/bias site, not two)."""
    sym = _jpg_ll_category(d)
    code, ln = codes[sym]
    wr.put(code, ln)
    if 0 < sym < 16:
        wr.put(d if d >= 0 else d + (1 << sym) - 1, sym)


def _jpg_ll_walk(red, predictor: int, default: int, restart_rows: int,
                 emit) -> None:
    """Shared lossless-JPEG sample walk (T.81 H.1/H.2): calls
    emit(c, diff) per sample in raster MCU order (components
    interleaved at 1x1) and emit(None, m) at each row-aligned
    restart. Restart chunks reset prediction exactly as at scan
    start: the chunk's first line predicts left-only (first sample
    from the 2^(P-Pt-1) default), later lines' first samples from
    above, the rest through the scan's selected predictor. The
    difference is coded modulo 2^16 (spec H.1.2.2)."""
    h, w, nc = red.shape
    chunk0 = 0
    nrst = 0
    for y in range(h):
        if restart_rows and y and y % restart_rows == 0:
            emit(None, nrst % 8)
            nrst += 1
            chunk0 = y
        yy = y - chunk0
        for x in range(w):
            for c in range(nc):
                v = int(red[y, x, c])
                if yy == 0:
                    px = default if x == 0 else int(red[y, x - 1, c])
                elif x == 0:
                    px = int(red[y - 1, x, c])
                else:
                    a = int(red[y, x - 1, c])
                    b2 = int(red[y - 1, x, c])
                    cc = int(red[y - 1, x - 1, c])
                    px = (a, b2, cc, a + b2 - cc,
                          a + ((b2 - cc) >> 1),
                          b2 + ((a - cc) >> 1),
                          (a + b2) >> 1)[predictor - 1]
                emit(c, (v - px + 32768) % 65536 - 32768)


def encode_jpeg_lossless(
    arr,
    predictor: int = 4,
    point_transform: int = 0,
    restart_rows: int = 0,
    precision: int = 0,
) -> bytes:
    """(h, w[, 3]) uint8/uint16 -> LOSSLESS JPEG (T.81 process 14,
    SOF3 — the DNG/DICOM class): per-sample neighbor prediction
    (selectors 1-7), modulo-2^16 differences Huffman-coded as DC-
    style categories (SSSS 16 = difference 32768, no appended bits,
    spec H.2), an OPTIMAL per-image table, optional point transform
    (samples coded at reduced precision and re-scaled on decode) and
    row-aligned restart intervals. ``precision`` defaults to the
    dtype width (8/16); pass 12 for the 12-bit class."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[..., None]
    h, w, nc = a.shape
    assert nc in (1, 3), "lossless JPEG encoder: gray or RGB"
    p = precision or (8 if a.dtype == np.uint8 else 16)
    assert 2 <= p <= 16 and int(a.max(initial=0)) < (1 << p)
    pt = point_transform
    assert 1 <= predictor <= 7 and 0 <= pt < p
    red = a.astype(np.int64) >> pt
    default = 1 << (p - pt - 1)
    freq: dict[int, int] = {}

    def count(c, d):
        if c is not None:
            sym = _jpg_ll_category(d)
            freq[sym] = freq.get(sym, 0) + 1

    _jpg_ll_walk(red, predictor, default, restart_rows, count)
    bits, vals = _jpg_optimal_table(freq)
    codes = _jpg_canonical_codes(bits, vals)
    out = bytearray(b"\xff\xd8")
    out += _jpg_dht_seg(0, 0, bits, vals)
    out += _jpg_dri_seg(restart_rows * w)
    out += _jpg_seg(0xC3, _jpg_sof_payload(
        p, h, w, [(c + 1, 1, 1, 0) for c in range(nc)]
    ))
    out += _jpg_seg(0xDA, _jpg_sos_payload(
        [(c + 1, 0, 0) for c in range(nc)], predictor, 0, 0, pt
    ))
    wr = _JpgBitWriter()

    def emit(c, d):
        if c is None:
            wr.flush()
            out.extend(wr.out)
            wr.out.clear()
            out.extend(bytes([0xFF, 0xD0 + d]))
            return
        _jpg_ll_emit_symbol(wr, codes, d)

    _jpg_ll_walk(red, predictor, default, restart_rows, emit)
    wr.flush()
    out.extend(wr.out)
    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg_lossless(b: bytes):
    """LOSSLESS JPEG (SOF3) -> (h, w, 3) uint8 (precision <= 8) or
    uint16 raster, grayscale replicated to 3 channels like the DCT
    paths. Reconstruction is modulo 2^16 then masked to the coded
    precision (identity for valid streams; bounded for corrupt
    ones); samples re-scale by the point transform. Subsampled or
    2/4-component lossless frames gate; structural damage raises
    ValueError."""
    import numpy as np

    huffs: dict[tuple, dict] = {}
    sof = None
    scan = None
    ri = 0
    for marker, payload, data in _jpg_segments(b):
        if marker == 0xC4:
            _jpg_parse_dht(payload, huffs)
        elif marker == 0xC3:
            sof = _jpg_parse_sof(payload)
            prec, nc = sof[0], len(sof[3])
            if not (2 <= prec <= 16):
                raise ValueError("lossless JPEG precision out of range")
            if nc not in (1, 3):
                require_codec(f"lossless JPEG with {nc} components")
            if any(c[2:] != (1, 1) for c in sof[3]):
                require_codec("subsampled lossless JPEG")
        elif marker == 0xDD:
            ri = _jpg_parse_dri(payload)
        elif marker == 0xDA:
            if sof is not None:
                scan = (
                    _jpg_parse_sos(payload, sof[3], True), b[data.start :]
                )
            break
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF3/SOS")
    prec, h, w, comps = sof
    (sel, predictor, _, _, pt), data = scan
    nc = len(comps)
    if len(sel) != nc:
        raise ValueError("JPEG scan/frame component mismatch")
    if not (1 <= predictor <= 7):
        raise ValueError("lossless predictor selector out of range")
    if pt >= prec:
        raise ValueError("lossless point transform out of range")
    default = 1 << (prec - pt - 1)
    mask = (1 << (prec - pt)) - 1
    tabs = [huffs.get((0, t)) for _, t, _ in sel]
    if None in tabs:
        raise ValueError("lossless scan references a missing table")
    rd = _JpgBitReader(data)
    if ri and ri % w:
        raise ValueError("lossless restart interval not row-aligned")
    restart_rows = ri // w if ri else 0
    out = np.zeros((h, w, nc), np.int64)
    chunk0 = 0
    for y in range(h):
        if restart_rows and y and y % restart_rows == 0:
            rd.restart(y // restart_rows - 1)
            chunk0 = y
        yy = y - chunk0
        for x in range(w):
            for c in range(nc):
                s = rd.huff(tabs[c])
                if s > 16:
                    raise ValueError("lossless SSSS out of range")
                if s == 16:
                    d = -32768
                elif s == 0:
                    d = 0
                else:
                    d = _jpg_extend(rd.take(s), s)
                if yy == 0:
                    px = default if x == 0 else int(out[y, x - 1, c])
                elif x == 0:
                    px = int(out[y - 1, x, c])
                else:
                    a = int(out[y, x - 1, c])
                    b2 = int(out[y - 1, x, c])
                    cc = int(out[y - 1, x - 1, c])
                    px = (a, b2, cc, a + b2 - cc,
                          a + ((b2 - cc) >> 1),
                          b2 + ((a - cc) >> 1),
                          (a + b2) >> 1)[predictor - 1]
                out[y, x, c] = (px + d) & 0xFFFF & mask
    out <<= pt
    if nc == 1:
        out = np.repeat(out, 3, axis=2)
    return out.astype(np.uint8 if prec <= 8 else np.uint16)


def encode_jpeg(
    arr,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    extended: bool = False,
    rgb_space: bool = False,
    adobe_transform=None,
) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> sequential JPEG
    (Annex K Huffman tables, libjpeg-scaled Annex K quantization).
    ``subsampling`` picks the luma sampling factors — '444' (1x1),
    '420' (2x2, the libjpeg/phone-camera default), '422' (2x1, the
    video/YUY2 layout), '440' (1x2), '411' (4x1, the DV layout) —
    chroma is the round-half-up box mean of the rounded full-res
    plane over the factor box. ``restart_interval`` > 0 emits a DRI
    segment and an RSTm marker (m cycling 0-7) after every that-many
    MCUs, resetting all DC predictors — the layout real encoders use
    so decoders can resynchronize and parallelize within one image.
    ``extended`` emits SOF1 (extended sequential) with Pq=1 16-bit
    quantization tables whose AC entries are lifted by +512 — the
    T.81 allowance baseline forbids; entropy coding is unchanged, so
    block-constant (DC-only) corpora decode identically to SOF0.
    ``rgb_space`` stores the components as R/G/B — or C/M/Y/K for
    4-channel input — directly (no color transform — the layouts
    TIFF photometric 2/5 wrap, round 11), signalled by the libjpeg
    R/G/B (C/M/Y/K) component-ID convention; 4:4:4 only (subsampled
    RGB has no real-world meaning), all components on the luma
    quant/Huffman tables. ``adobe_transform`` writes an APP14 Adobe
    marker: 0 (with ``rgb_space``) keeps the data untransformed but
    ships the numeric 1..N component IDs real Adobe files carry; 2
    stores 4-channel CMYK input as YCCK (inverted CMY through the
    YCbCr matrix + K untouched — the Photoshop scanned-CMYK
    layout). Deterministic: float64 DCT +
    round-half-away quantization, no RNG, no library variance."""
    if adobe_transform not in (None, 0, 2):
        raise ValueError(f"Adobe transform {adobe_transform} unsupported")
    if adobe_transform == 0 and not rgb_space:
        raise ValueError("Adobe transform 0 means untransformed")
    if adobe_transform == 2 and rgb_space:
        raise ValueError("YCCK needs 4-channel 4:4:4 input")
    space = (
        "ycck" if adobe_transform == 2
        else "rgb_space" if rgb_space else "ycbcr"
    )
    ql, qc = _jpg_quant_tables(quality)
    if extended:
        # lift every AC entry past the baseline 255 ceiling so the
        # 16-bit DQT parse is actually exercised; DC stays small so
        # the block-constant exactness argument is unchanged
        ql, qc = ql + 512, qc + 512
        ql[0, 0] -= 512
        qc[0, 0] -= 512
    coefs, samp, tqs, h, w = _jpg_quantized_coefs(
        arr, ql, qc, subsampling, 8, space
    )
    nc = len(coefs)
    codes = {
        t: (_jpg_canonical_codes(*_JPG_HUFF[(0, t)]),
            _jpg_canonical_codes(*_JPG_HUFF[(1, t)]))
        for t in set(tqs)
    }
    entropy = _jpg_huff_seq_entropy(
        coefs, _jpg_mcu_blocks(coefs, samp, restart_interval),
        [codes[t] for t in tqs], False,
    )
    # extended sequential carries Pq=1 16-bit quant entries
    dqt = _jpg_dqt_seg(0, ql, wide=extended)
    if 1 in tqs:
        dqt += _jpg_dqt_seg(1, qc, wide=extended)
    if rgb_space and adobe_transform is None:
        comp_ids = _JPG_LETTER_IDS[nc]
    else:
        comp_ids = range(1, nc + 1)
    app14 = b""
    if adobe_transform is not None:
        app14 = _jpg_seg(
            0xEE,
            b"Adobe" + struct.pack(">HHHB", 0x64, 0, 0, adobe_transform),
        )
    sof = _jpg_sof_payload(8, h, w, [
        (cid, hi, vi, t) for cid, (hi, vi), t in zip(comp_ids, samp, tqs)
    ])
    dht = b"".join(
        _jpg_dht_seg(cls, tid, bits, vals)
        for (cls, tid), (bits, vals) in _JPG_HUFF.items()
        if tid in tqs
    )
    sos = _jpg_sos_payload(
        [(cid, t, t) for cid, t in zip(comp_ids, tqs)], 0, 63, 0, 0
    )
    return (
        b"\xff\xd8"
        + app14
        + dqt
        + _jpg_seg(0xC1 if extended else 0xC0, sof)
        + dht
        + _jpg_dri_seg(restart_interval)
        + _jpg_seg(0xDA, sos)
        + entropy
        + b"\xff\xd9"
    )


class _JpgBitReader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def take(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.d):
                raise ValueError("JPEG entropy stream truncated")
            byte = self.d[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.d):
                    raise ValueError("JPEG entropy stream truncated")
                nxt = self.d[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # unstuff
                elif nxt == 0xD9:
                    byte = 0  # EOI padding region
                else:
                    raise ValueError(f"unexpected marker 0xFF{nxt:02X} in scan")
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.take(1)
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def restart(self, expected: int) -> None:
        """Discard pad bits and consume the next RSTm marker (skipping
        stuffed 0xFF00 pairs per B.1.1.5); m must be ``expected`` mod
        8, the restart count so far."""
        self.acc = 0
        self.nbits = 0  # after any take(), at most 7 buffered bits
        while self.pos + 1 < len(self.d):
            if self.d[self.pos] == 0xFF and self.d[self.pos + 1] != 0x00:
                break
            self.pos += 1
        if self.pos + 1 >= len(self.d):
            raise ValueError("JPEG restart marker expected, hit EOF")
        m = self.d[self.pos + 1]
        if not (0xD0 <= m <= 0xD7):
            raise ValueError(f"expected RSTm, found 0xFF{m:02X}")
        self.pos += 2
        if m - 0xD0 != expected % 8:
            raise ValueError(
                f"JPEG restart desync: RST{m - 0xD0}, "
                f"expected RST{expected % 8}"
            )


def _jpg_extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _jpg_gray_ycbcr_tail(planes, prec):
    """Shared precision-parameterized output tail (round-13 review:
    one copy, not three): level-shifted component planes -> uint8/
    uint16 RGB via the CCIR-601 inverse, grayscale replicated. The
    constants here are THE cross-path pinned values — every decoder
    that changes them must change them together."""
    import numpy as np

    lvl = float(1 << (prec - 1))
    full = (1 << prec) - 1
    odt = np.uint8 if prec == 8 else np.uint16
    if len(planes) == 1:
        g = np.clip(np.floor(planes[0] + 0.5), 0, full).astype(odt)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = planes
    r = y + 1.402 * (cr - lvl)
    g = y - 0.344136286 * (cb - lvl) - 0.714136286 * (cr - lvl)
    bl = y + 1.772 * (cb - lvl)
    return np.stack(
        [np.clip(np.floor(x + 0.5), 0, full) for x in (r, g, bl)],
        axis=-1,
    ).astype(odt)


def _jpg_parse_dac(payload, dc_cond, ac_cond):
    """Parse one DAC segment (T.81 B.2.4.3) into the conditioning
    maps: DC entries carry (L, U) packed U<<4|L, AC entries carry
    Kx. Shared by the sequential/progressive/hierarchical arithmetic
    decoders (round-13 review: one validation site, not three)."""
    if len(payload) % 2:
        raise ValueError("JPEG DAC truncated")
    for p in range(0, len(payload), 2):
        tc, tb, cs = payload[p] >> 4, payload[p] & 0x0F, payload[p + 1]
        if tb > 3:
            raise ValueError("JPEG DAC table id out of range")
        if tc == 0:
            low, up = cs & 0x0F, cs >> 4
            if low > up or up > 15:
                raise ValueError("JPEG DAC DC conditioning invalid")
            dc_cond[tb] = (low, up)
        elif tc == 1:
            if not 1 <= cs <= 63:
                raise ValueError("JPEG DAC AC Kx out of range")
            ac_cond[tb] = cs
        else:
            raise ValueError("JPEG DAC class invalid")


def _jpg_parse_dqt(payload: bytes, qts: dict) -> None:
    """Parse one DQT segment into ``qts``: Pq=0 is 8-bit entries,
    Pq=1 is 16-bit big-endian (extended-sequential encoders use it
    when scaled table values exceed 255); any other flag is a spec
    violation (corrupt data, not a missing codec)."""
    import numpy as np

    p = 0
    while p < len(payload):
        pq, tq = payload[p] >> 4, payload[p] & 0x0F
        if pq > 1:
            raise ValueError("JPEG DQT precision flag out of range")
        step = 2 if pq else 1
        if p + 1 + 64 * step > len(payload):
            raise ValueError("JPEG DQT truncated")
        tab = np.zeros(64, dtype=np.int64)
        for k in range(64):
            if pq:
                (v,) = struct.unpack_from(">H", payload, p + 1 + 2 * k)
            else:
                v = payload[p + 1 + k]
            tab[_JPG_ZIGZAG[k]] = v
        qts[tq] = tab.reshape(8, 8)
        p += 1 + 64 * step


def _jpg_segments(b: bytes):
    """The one JPEG marker walk (T.81 B.1.1): yield ``(marker,
    payload, scan)`` for each segment after SOI until EOI or the end
    of the data. ``scan`` is None except after an SOS header, where
    it is the slice of ``b`` holding the entropy-coded data, up to
    the next marker that is not RSTm (``_jpg_scan_end``); the walk
    resumes after it. Fill bytes
    before a marker are skipped (B.1.1.2). A missing SOI, a byte that
    should start a marker and does not, and a truncated marker or
    segment raise ValueError."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(b):
            raise ValueError("truncated JPEG stream")
        marker = b[pos + 1]
        if marker == 0xD9:
            return
        if pos + 4 > len(b):
            raise ValueError("truncated JPEG segment header")
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        payload = b[pos + 4 : pos + 2 + ln]
        if len(payload) != ln - 2:
            raise ValueError("truncated JPEG segment")
        pos += 2 + ln
        scan = None
        if marker == 0xDA:
            scan = slice(pos, _jpg_scan_end(b, pos))
            pos = scan.stop
        yield marker, payload, scan


def _jpg_parse_dht(payload: bytes, huffs: dict) -> None:
    """Parse one DHT segment (B.2.4.2) into ``huffs[(class, id)]``
    decode tables."""
    p = 0
    while p < len(payload):
        cls, tid = payload[p] >> 4, payload[p] & 0x0F
        bits = list(payload[p + 1 : p + 17])
        nv = sum(bits)
        vals = list(payload[p + 17 : p + 17 + nv])
        if len(bits) != 16 or len(vals) != nv:
            raise ValueError("JPEG DHT truncated")
        huffs[(cls, tid)] = _jpg_decode_table(bits, vals)
        p += 17 + nv


def _jpg_parse_dri(payload: bytes) -> int:
    """The restart interval of a DRI segment (B.2.4.4)."""
    if len(payload) < 2:
        raise ValueError("JPEG DRI truncated")
    return struct.unpack_from(">H", payload, 0)[0]


def _jpg_parse_sof(payload: bytes):
    """Parse an SOFn or DHP frame header (B.2.2) -> (precision, h, w,
    comps), ``comps`` one (id, quant table, hi, vi) per component.
    A corrupt header raises ValueError: truncation, sampling factors
    outside 1-4 (A.1.1), no components, a zero dimension, or more
    than 2^26 samples (the planes allocate from these fields, so a
    corrupt dimension must not materialize a multi-GB buffer). Legal
    sampling factors whose max/factor ratio is fractional need true
    resampling, not replication, and gate via ``require_codec``.
    Each decoder gates its own precision and component count after
    the call."""
    if len(payload) < 6:
        raise ValueError("JPEG SOF truncated")
    prec, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
    if len(payload) < 6 + 3 * nc:
        raise ValueError("JPEG SOF truncated")
    comps = []
    for ci in range(nc):
        cid, samp, tq = payload[6 + 3 * ci : 9 + 3 * ci]
        hi, vi = samp >> 4, samp & 0x0F
        if not (1 <= hi <= 4 and 1 <= vi <= 4):
            raise ValueError(f"JPEG sampling factor out of range {hi}x{vi}")
        comps.append((cid, tq, hi, vi))
    if not (h and w and nc) or h * w * nc > (1 << 26):
        raise ValueError("JPEG dimensions implausible")
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    for _, _, hi, vi in comps:
        if hmax % hi or vmax % vi:
            require_codec(
                f"JPEG fractional sampling {hi}x{vi} of {hmax}x{vmax}"
            )
    return prec, h, w, comps


def _jpg_parse_sos(payload: bytes, comps, lossless: bool = False):
    """Parse an SOS header (B.2.3) against the frame's ``comps`` ->
    (sel, Ss, Se, Ah, Al), ``sel`` one (frame component index, DC
    table, AC table) per scan component. Truncation, a component the
    frame lacks and a spectral band outside 0 <= Ss <= Se <= 63 raise
    ValueError (a corrupt Se would run the band loops past the
    block). A lossless scan carries the predictor in Ss and 0 in Se,
    so it has no band to check."""
    if not payload or len(payload) < 1 + 2 * payload[0] + 3:
        raise ValueError("JPEG SOS truncated")
    ns = payload[0]
    ids = [c[0] for c in comps]
    sel = []
    for ci in range(ns):
        cs, tt = payload[1 + 2 * ci : 3 + 2 * ci]
        if cs not in ids:
            raise ValueError("JPEG scan names unknown component")
        sel.append((ids.index(cs), tt >> 4, tt & 0x0F))
    ss, se, a = payload[1 + 2 * ns : 4 + 2 * ns]
    if not lossless and not 0 <= ss <= se <= 63:
        raise ValueError("JPEG SOS spectral band out of range")
    return sel, ss, se, a >> 4, a & 0x0F


def _jpg_restart_segments(scan: bytes, n_units: int, ri: int) -> list:
    """Split an arithmetic-coded scan at its RSTm markers (data 0xFF
    is always stuffed, so a bare 0xFF D0-D7 inside the scan IS a
    restart marker), checking their sequence numbers and that restart
    interval ``ri`` over ``n_units`` MCUs (or blocks) implies this
    many segments."""
    segs = []
    p = seg_from = 0
    while p + 1 < len(scan):
        if scan[p] == 0xFF and 0xD0 <= scan[p + 1] <= 0xD7:
            got, want = scan[p + 1] - 0xD0, len(segs) % 8
            if got != want:
                raise ValueError(
                    f"JPEG restart desync: RST{got}, expected RST{want}"
                )
            segs.append(scan[seg_from:p])
            p = seg_from = p + 2
        else:
            p += 1
    segs.append(scan[seg_from:])
    if ri:
        if len(segs) != -(-n_units // ri):
            raise ValueError("JPEG restart segment count mismatch")
    elif len(segs) != 1:
        raise ValueError("JPEG restart markers without DRI")
    return segs


def _jpg_idct_block(coefs, qt):
    """Dequantize one block of 64 zigzag-order coefficients with the
    8x8 table ``qt`` and return its inverse DCT (no level shift)."""
    import numpy as np

    blk = np.zeros(64, dtype=np.float64)
    blk[_JPG_ZIGZAG] = coefs
    dctm = _jpg_dct_mat()
    return dctm.T @ (blk.reshape(8, 8) * qt) @ dctm


def _jpg_upsample(planes, comps, h: int, w: int) -> list:
    """Replicate each subsampled component plane up to the frame's
    maximum sampling factors (nearest neighbour) and crop to (h, w)."""
    import numpy as np

    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    return [
        np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)[
            :h, :w
        ]
        for p, (_, _, hi, vi) in zip(planes, comps)
    ]


def _jpg_mcu_grid(h: int, w: int, comps):
    """(mcux, mcuy, hmax, vmax): the MCU grid of an interleaved frame."""
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    return -(-w // (8 * hmax)), -(-h // (8 * vmax)), hmax, vmax


def _jpg_seq_planes(h: int, w: int, comps, sel):
    """(mcux, mcuy, zeroed component planes on the MCU-padded grid)
    for a sequential scan, which must name every frame component in
    frame order."""
    import numpy as np

    if [ci for ci, _, _ in sel] != list(range(len(comps))):
        raise ValueError("JPEG scan/frame component mismatch")
    mcux, mcuy, _, _ = _jpg_mcu_grid(h, w, comps)
    planes = [
        np.zeros((mcuy * vi * 8, mcux * hi * 8), dtype=np.float64)
        for (_, _, hi, vi) in comps
    ]
    return mcux, mcuy, planes


def _jpg_read_block(rd, dc_t, ac_t, pred: int):
    """Read one sequential Huffman-coded block (F.2.2) -> its 64
    zigzag-order coefficients, the DC difference added to ``pred``
    (0 in hierarchical differential frames: zero DC prediction)."""
    import numpy as np

    coefs = np.zeros(64, dtype=np.int64)
    cat = rd.huff(dc_t)
    if cat > 15:
        # T.81 bounds DC diff categories at 11 (8-bit precision);
        # a corrupt table can map a code to any byte, and take(cat)
        # on e.g. 200 builds an int that overflows the int64
        # coefficient plane instead of raising ValueError
        raise ValueError("bad JPEG DC category")
    coefs[0] = pred + (_jpg_extend(rd.take(cat), cat) if cat else 0)
    k = 1
    while k < 64:
        rs = rd.huff(ac_t)
        if rs == 0x00:
            break
        if rs == 0xF0:
            k += 16
            continue
        k += rs >> 4
        cat = rs & 0x0F
        if k > 63:
            raise ValueError("JPEG AC run overflow")
        coefs[k] = _jpg_extend(rd.take(cat), cat)
        k += 1
    return coefs


def _jpg_huff_scan(scan, h, w, comps, sel, huffs, qts, ri, differential):
    """Decode one interleaved sequential Huffman scan -> dequantized,
    inverse-DCT'd component planes at (h, w), before the level shift.
    DRI/RSTm restart intervals realign the reader, check the marker
    sequence and reset the DC predictors."""
    mcux, mcuy, planes = _jpg_seq_planes(h, w, comps, sel)
    rd = _JpgBitReader(scan)
    preds = [0] * len(comps)
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if ri and mcu_n and mcu_n % ri == 0:
                rd.restart(mcu_n // ri - 1)
                preds = [0] * len(comps)
            mcu_n += 1
            for ci, dt, at in sel:
                _, tq, hi, vi = comps[ci]
                dc_t, ac_t = huffs.get((0, dt)), huffs.get((1, at))
                qt = qts.get(tq)
                if dc_t is None or ac_t is None or qt is None:
                    raise ValueError("JPEG missing table")
                for v in range(vi):
                    for hh in range(hi):
                        coefs = _jpg_read_block(
                            rd, dc_t, ac_t, 0 if differential else preds[ci]
                        )
                        preds[ci] = int(coefs[0])
                        py, px = (my * vi + v) * 8, (mx * hi + hh) * 8
                        planes[ci][py : py + 8, px : px + 8] = (
                            _jpg_idct_block(coefs, qt)
                        )
    return _jpg_upsample(planes, comps, h, w)


def _jpg_arith_scan(
    scan, h, w, comps, sel, qts, ri, dc_cond, ac_cond, differential
):
    """Decode one interleaved sequential ARITHMETIC scan (the Annex F
    models over the Annex D QM-coder) -> component planes at (h, w),
    before the level shift. DAC conditioning defaults to L=0, U=1,
    Kx=5 when the marker is absent (F.1.4.4.1.2/F.1.4.4.2). Each
    restart segment starts a fresh coder with zeroed statistics and
    reset DC contexts. Hierarchical differential frames (SOF13) code
    each block's DC value directly (zero prediction, J.1)."""
    import numpy as np

    mcux, mcuy, planes = _jpg_seq_planes(h, w, comps, sel)
    segs = iter(_jpg_restart_segments(scan, mcux * mcuy, ri))
    nc = len(comps)
    fixed = bytearray([113])
    coefs = np.zeros(64, dtype=np.int64)
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if mcu_n % (ri or mcux * mcuy) == 0:
                dec = _QmDecoder(next(segs))
                dc_stats = {dt: bytearray(64) for _, dt, _ in sel}
                ac_stats = {at: bytearray(256) for _, _, at in sel}
                dc_ctx = [0] * nc
                preds = [0] * nc
            mcu_n += 1
            for ci, dt, at in sel:
                _, tq, hi, vi = comps[ci]
                qt = qts.get(tq)
                if qt is None:
                    raise ValueError("JPEG missing table")
                dc_st, ac_st = dc_stats[dt], ac_stats[at]
                low, up = dc_cond.get(dt, (0, 1))
                kx = ac_cond.get(at, 5)
                for v in range(vi):
                    for hh in range(hi):
                        coefs[:] = 0
                        dcv = _arith_dc_decode(dec, dc_st, dc_ctx, ci, low, up)
                        if not differential:
                            preds[ci] += dcv
                            dcv = preds[ci]
                        coefs[0] = dcv
                        _arith_ac_decode(dec, ac_st, fixed, kx, coefs)
                        py, px = (my * vi + v) * 8, (mx * hi + hh) * 8
                        planes[ci][py : py + 8, px : px + 8] = (
                            _jpg_idct_block(coefs, qt)
                        )
    return _jpg_upsample(planes, comps, h, w)


def _jpg_prog_frame(h: int, w: int, comps):
    """Coefficient storage of a progressive frame -> (mcux, mcuy,
    rasters, coefs). Interleaved scans cover the MCU-padded grid
    (mcuy*vi x mcux*hi blocks, T.81 A.2.4/G.1); non-interleaved scans
    cover only each component's own ceil-dims block raster
    ``rasters[ci] = (nbw, nbh)``; ``coefs[ci]`` holds the padded
    grid's zigzag-order coefficients."""
    import numpy as np

    mcux, mcuy, hmax, vmax = _jpg_mcu_grid(h, w, comps)
    rasters = [
        (-(-w * hi // (8 * hmax)), -(-h * vi // (8 * vmax)))
        for _, _, hi, vi in comps
    ]
    coefs = [
        np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
        for _, _, hi, vi in comps
    ]
    return mcux, mcuy, rasters, coefs


def _jpg_scan_blocks(sel, comps, rasters, mcux: int, mcuy: int):
    """Block order of one progressive scan -> (iterator of (scan
    component, frame component, by, bx), blocks per restart unit,
    restart units): an interleaved scan walks MCUs with hi x vi
    blocks per component (A.2.3); a single-component scan walks that
    component's own block raster, one block per unit."""
    if len(sel) > 1:
        blocks = (
            (si, ci, my * comps[ci][3] + v, mx * comps[ci][2] + hh)
            for my in range(mcuy)
            for mx in range(mcux)
            for si, (ci, _, _) in enumerate(sel)
            for v in range(comps[ci][3])
            for hh in range(comps[ci][2])
        )
        per_unit = sum(comps[ci][2] * comps[ci][3] for ci, _, _ in sel)
        return blocks, per_unit, mcux * mcuy
    ci = sel[0][0]
    nbw, nbh = rasters[ci]
    blocks = ((0, ci, by, bx) for by in range(nbh) for bx in range(nbw))
    return blocks, 1, nbw * nbh


def _jpg_prog_planes(coefs, rasters, comps, qts, h, w, prec):
    """Progressive output tail: dequantize and inverse-DCT each
    component's own block raster, replicate to full resolution, level
    shift and convert through ``_jpg_gray_ycbcr_tail``."""
    import numpy as np

    planes = []
    for grid, (nbw, nbh), (_, tq, _, _) in zip(coefs, rasters, comps):
        qt = qts.get(tq)
        if qt is None:
            raise ValueError("JPEG missing quant table")
        plane = np.zeros((nbh * 8, nbw * 8), dtype=np.float64)
        for by in range(nbh):
            for bx in range(nbw):
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _jpg_idct_block(grid[by, bx], qt)
                )
        planes.append(plane)
    lvl = float(1 << (prec - 1))
    return _jpg_gray_ycbcr_tail(
        [p + lvl for p in _jpg_upsample(planes, comps, h, w)], prec
    )


def decode_jpeg(b: bytes, color_space: str = "auto"):
    """Sequential JPEG bytes -> (h, w, 3) RGB (or grayscale
    replicated to 3 channels) uint8. Supports SOF0 baseline AND SOF1
    extended sequential (identical entropy coding at 8-bit sample
    precision; 16-bit Pq=1 quantization tables parsed), 1 or 3
    components, any T.81-legal sampling factors 1-4 whose max/factor
    ratio is integral (4:4:4, 4:2:0, 4:2:2, 4:4:0, 4:1:1, ...), and
    DRI/RSTm restart intervals (byte realignment + DC-predictor
    reset, marker sequence checked). SOF2 progressive, SOF3
    lossless, SOF9/SOF10 arithmetic and DHP hierarchical streams
    dispatch to their decoders; lossless arithmetic and standalone
    differential frames gate via ``require_codec``; structural damage
    raises ValueError.

    ``color_space``: 3-component scans default to YCbCr (the JFIF
    convention). ``"auto"`` additionally honors the libjpeg R/G/B
    (C/M/Y/K) component-ID convention and the Adobe APP14 marker
    (transform 0 = untransformed, 2 = YCCK — inverted CMY through
    the YCbCr matrix + K, the Photoshop scanned-CMYK layout);
    ``"rgb"`` / ``"ycbcr"`` force the interpretation — the CONTAINER
    override (TIFF photometric 2 marks the embedded scan RGB-space
    regardless of its component IDs, round 11). ``"cmyk"`` is TIFF
    photometric 5's contract: 4 components that are ink planes —
    YCCK-decoded first when APP14 says transform 2. 4-channel
    returns are raw CMYK (the container owns the ink conversion)."""
    import numpy as np

    if color_space not in ("auto", "rgb", "ycbcr", "cmyk"):
        raise ValueError(f"unknown JPEG color space {color_space!r}")

    qts: dict[int, object] = {}
    huffs: dict[tuple, dict] = {}
    sof = None
    scan = None
    restart_interval = 0
    adobe = None
    for marker, payload, data in _jpg_segments(b):
        if marker == 0xDB:
            _jpg_parse_dqt(payload, qts)
        elif marker == 0xC4:
            _jpg_parse_dht(payload, huffs)
        elif marker in (0xC0, 0xC1):
            # SOF1 extended sequential decodes on the baseline path:
            # at 8-bit precision the entropy coding is identical, the
            # extension only widens precision/table allowances
            sof = _jpg_parse_sof(payload)
            prec, nc = sof[0], len(sof[3])
            if prec != 8 and not (
                prec == 12 and marker == 0xC1 and nc in (1, 3)
            ):
                # 12-bit decodes for the extended-sequential class
                # (round 10 — gray, then the 4:4:4 color follow-up:
                # the whole pipeline is precision-parameterized, the
                # YCbCr relations just center on 2^(P-1)); other
                # precisions stay gated
                require_codec(f"JPEG precision={prec}")
        elif marker == 0xC2:
            return _decode_jpeg_progressive(b)
        elif marker == 0xC3:
            return _decode_jpeg_lossless(b)
        elif marker == 0xC9:
            # extended sequential with ARITHMETIC coding (round 12 —
            # the T.81 Annex D QM-coder + Annex F models)
            return _decode_jpeg_arith(b, color_space)
        elif marker == 0xDE:
            # DHP: HIERARCHICAL frame pyramid (round 12, Annex J)
            return _decode_jpeg_hierarchical(b, color_space)
        elif marker == 0xCA:
            # SOF10: progressive with ARITHMETIC coding (round 13 —
            # the Annex G.2 models over the Annex D QM-coder)
            return _decode_jpeg_arith_progressive(b)
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xCB, 0xCD, 0xCE, 0xCF):
            require_codec(f"JPEG SOF marker 0xFF{marker:02X} (non-baseline)")
        elif marker == 0xDD:
            restart_interval = _jpg_parse_dri(payload)
        elif marker == 0xEE and payload[:5] == b"Adobe":
            if len(payload) < 12:
                raise ValueError("JPEG APP14 Adobe marker truncated")
            adobe = payload[11]
        elif marker == 0xDA:
            if sof is None:
                break
            # the reader runs on to the end of the data, reading an
            # EOI inside its last byte as zero padding
            scan = (_jpg_parse_sos(payload, sof[3])[0], b[data.start :])
            break
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    prec, h, w, comps = sof
    sel, data = scan
    lvl = float(1 << (prec - 1))
    full = (1 << prec) - 1
    planes = [
        p + lvl
        for p in _jpg_huff_scan(
            data, h, w, comps, sel, huffs, qts, restart_interval, False
        )
    ]
    if len(planes) == 1:
        g = np.clip(np.floor(planes[0] + 0.5), 0, full).astype(
            np.uint8 if prec == 8 else np.uint16
        )
        return np.stack([g, g, g], axis=-1)
    ids = tuple(c[0] for c in comps)
    ycck = len(planes) == 4 and adobe == 2 and color_space in (
        "auto", "cmyk"
    )
    if not ycck and (
        color_space == "rgb"
        or (color_space == "cmyk" and len(planes) == 4)
        or (
            color_space == "auto"
            and (
                ids in ((0x52, 0x47, 0x42), (0x43, 0x4D, 0x59, 0x4B))
                or adobe == 0
            )
        )
    ):
        # no-transform scan: components ARE R/G/B — or C/M/Y/K
        # (round 11, the Adobe scanned-CMYK class; the CONTAINER owns
        # the ink conversion) — level-shifted like any T.81 component
        out = np.stack(
            [np.clip(np.floor(p + 0.5), 0, full) for p in planes],
            axis=-1,
        )
        return out.astype(np.uint8 if prec == 8 else np.uint16)
    if ycck:
        # YCCK (Adobe transform 2): inverted CMY rode the YCbCr
        # matrix, K untouched — undo and hand back raw CMYK
        if prec != 8:
            require_codec("YCCK JPEG above 8-bit precision")
        y, cb, cr, kpl = planes
        r = y + 1.402 * (cr - lvl)
        g = y - 0.344136286 * (cb - lvl) - 0.714136286 * (cr - lvl)
        bl = y + 1.772 * (cb - lvl)
        cmy = [
            255.0 - np.clip(np.floor(x + 0.5), 0, 255)
            for x in (r, g, bl)
        ]
        out = np.stack(
            cmy + [np.clip(np.floor(kpl + 0.5), 0, 255)], axis=-1
        )
        return out.astype(np.uint8)
    if len(planes) != 3:
        # 4-component Adobe CMYK/YCCK needs APP14 (or a container
        # contract) to disambiguate the transform; 2-component scans
        # have no defined color model at all
        require_codec(f"{len(planes)}-component JPEG color transform")
    y, cb, cr = planes
    r = y + 1.402 * (cr - lvl)
    g = y - 0.344136286 * (cb - lvl) - 0.714136286 * (cr - lvl)
    bl = y + 1.772 * (cb - lvl)
    out = np.stack(
        [np.clip(np.floor(x + 0.5), 0, full) for x in (r, g, bl)],
        axis=-1,
    )
    return out.astype(np.uint8 if prec == 8 else np.uint16)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, spectral selection + successive
# approximation, EOB runs): pure numpy + stdlib. The encoder emits a
# libjpeg-style scan script (DC first/refine, per-component AC band
# scans with an Al cascade, AC refinement with buffered correction
# bits) and builds OPTIMAL per-scan Huffman tables (T.81 K.2) because
# the Annex K AC tables have no canonical slack for EOBn symbols.
# Progressive re-coding of the same quantized coefficients is
# lossless, so decode(progressive(x)) must equal
# decode(baseline(x)) bit-for-bit — asserted in tests, including
# every subsampled layout (round 10: interleaved-MCU DC scans,
# per-component AC block rasters).
# ---------------------------------------------------------------------------


def _jpg_optimal_table(freq_map):
    """Symbol frequencies -> (bits[16], huffval) per T.81 Annex K.2:
    pairwise merge with code-length tracking, 16-bit length limiting,
    and a reserved pseudo-symbol so no real code is all-ones."""
    freq = [0] * 257
    for sym, f in freq_map.items():
        freq[sym] = int(f)
    if not any(freq[:256]):
        freq[0] = 1  # degenerate scan: keep the DHT well-formed
    freq[256] = 1
    others = [-1] * 257
    codesize = [0] * 257
    while True:
        c1, v1 = -1, None
        for i, f in enumerate(freq):
            if f > 0 and (v1 is None or f <= v1):
                v1, c1 = f, i
        c2, v2 = -1, None
        for i, f in enumerate(freq):
            if f > 0 and i != c1 and (v2 is None or f <= v2):
                v2, c2 = f, i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved pseudo-symbol's code
    order = sorted((codesize[s], s) for s in range(256) if codesize[s])
    return bits[1:17], [s for _, s in order]


# scan script: (kind, comp, Ss, Se, Ah, Al); DC scans interleave all
# components, AC scans are single-component per the SOF2 rules
_JPG_PROG_SCRIPT_GRAY = [
    ("dc_first", None, 0, 0, 0, 1),
    ("ac_first", 0, 1, 63, 0, 1),
    ("dc_refine", None, 0, 0, 1, 0),
    ("ac_refine", 0, 1, 63, 1, 0),
]
_JPG_PROG_SCRIPT_COLOR = [
    ("dc_first", None, 0, 0, 0, 1),
    ("ac_first", 0, 1, 5, 0, 2),
    ("ac_first", 1, 1, 63, 0, 1),
    ("ac_first", 2, 1, 63, 0, 1),
    ("ac_first", 0, 6, 63, 0, 2),
    ("ac_refine", 0, 1, 63, 2, 1),
    ("dc_refine", None, 0, 0, 1, 0),
    ("ac_refine", 1, 1, 63, 1, 0),
    ("ac_refine", 2, 1, 63, 1, 0),
    ("ac_refine", 0, 1, 63, 1, 0),
]


def _jpg_drive_ac_first(block_iter, Ss, Se, Al, emit_sym, emit_bits):
    """AC first-pass scan body (G.1.2.2): magnitude point transform
    (truncate toward zero), ZRL runs, EOBn run accumulation."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nb = eobrun.bit_length() - 1
            emit_sym(nb << 4)
            if nb:
                emit_bits(eobrun - (1 << nb), nb)
            eobrun = 0

    for block in block_iter:
        r = 0
        for k in range(Ss, Se + 1):
            v = int(block[k])
            t = (abs(v) >> Al) * (1 if v >= 0 else -1)
            if t == 0:
                r += 1
                continue
            flush_eob()
            while r > 15:
                emit_sym(0xF0)
                r -= 16
            cat = _jpg_category(t)
            emit_sym((r << 4) | cat)
            emit_bits(t if t >= 0 else t + (1 << cat) - 1, cat)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _jpg_drive_ac_refine(block_iter, Ss, Se, Al, emit_sym, emit_bits):
    """AC refinement scan body (G.1.2.3): newly-significant coefs as
    (run, 1) symbols with a sign bit, correction bits for history
    coefficients buffered and flushed with the next symbol or EOBn."""
    eobrun = 0
    pend: list[int] = []  # correction bits riding the pending EOB run

    def flush_eob():
        nonlocal eobrun, pend
        if eobrun:
            nb = eobrun.bit_length() - 1
            emit_sym(nb << 4)
            if nb:
                emit_bits(eobrun - (1 << nb), nb)
            eobrun = 0
        for bit in pend:
            emit_bits(bit, 1)
        pend = []

    for block in block_iter:
        absv = [0] * 64
        eobpos = Ss - 1
        for k in range(Ss, Se + 1):
            absv[k] = abs(int(block[k])) >> Al
            if absv[k] == 1:
                eobpos = k
        r = 0
        br: list[int] = []
        for k in range(Ss, Se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eobpos:
                flush_eob()
                emit_sym(0xF0)
                r -= 16
                for bit in br:
                    emit_bits(bit, 1)
                br = []
            if t > 1:  # already significant: one correction bit
                br.append(t & 1)
                continue
            flush_eob()
            emit_sym((r << 4) | 1)
            emit_bits(1 if int(block[k]) >= 0 else 0, 1)
            for bit in br:
                emit_bits(bit, 1)
            br = []
            r = 0
        if r or br:
            eobrun += 1
            pend += br
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _jpg_prog_scans(coefs, samp, h: int, w: int, ri: int) -> list:
    """The progressive scan script for a frame from the front end,
    each scan as (kind, comp, Ss, Se, Ah, Al, restart segments of its
    block walk): DC scans interleave every component MCU by MCU; an
    AC scan walks one component's own ceil-dims block raster, one
    block per restart unit (A.2.2-A.2.3, G.1.1)."""
    hmax, vmax = samp[0]
    script = (
        _JPG_PROG_SCRIPT_GRAY if len(coefs) == 1 else _JPG_PROG_SCRIPT_COLOR
    )
    scans = []
    for kind, comp, Ss, Se, Ah, Al in script:
        if comp is None:
            segs = _jpg_mcu_blocks(coefs, samp, ri)
        else:
            hi, vi = samp[comp]
            nbw, nbh = -(-w * hi // (8 * hmax)), -(-h * vi // (8 * vmax))
            segs = _jpg_mcu_blocks(
                [coefs[comp][:nbh, :nbw]], [(1, 1)], ri
            )
        scans.append((kind, comp, Ss, Se, Ah, Al, segs))
    return scans


def encode_jpeg_progressive(
    arr, quality: int = 90, restart_interval: int = 0,
    subsampling: str = "444", precision: int = 8,
) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> progressive JPEG
    (SOF2). Same quantized coefficients as ``encode_jpeg`` at the
    same quality — progressive is a lossless re-coding, so decoding
    either stream yields identical pixels. Scan script: interleaved
    DC with successive approximation, per-component spectral-
    selection AC bands with an Al cascade on luma, then refinement
    scans. AC tables are optimal per scan (T.81 K.2) and shipped in
    a DHT before each SOS. ``restart_interval`` > 0 emits a DRI and
    splits EVERY scan into that-many-MCU restart segments: each
    segment flushes its EOB run and buffered correction bits,
    byte-aligns, emits RSTm (m cycling 0-7, counter reset per scan),
    and restarts DC prediction — so a decoder can resynchronize
    inside any scan of the cascade. ``subsampling`` (round 10)
    applies the same chroma pipeline as ``encode_jpeg`` — DC scans
    interleave hi*vi luma blocks per MCU, AC scans walk each
    component's own block raster. ``precision=12`` (round 13) rides
    the ``encode_jpeg12`` front end (uint16 < 4096, level shift
    2048, 4:4:4 only); the only structural change is the DC-first
    scan's table — 12-bit DC categories reach 15, past the fixed
    Annex K tables, so that scan censuses its own OPTIMAL table
    (one, shared by all components) and ships it in the scan DHT."""
    if precision not in (8, 12):
        raise ValueError("progressive precision must be 8/12")
    if precision == 12 and subsampling != "444":
        raise ValueError("12-bit progressive is 4:4:4 only")
    ql, qc = _jpg_quant_tables(quality)
    coefs, samp, tqs, h, w = _jpg_quantized_coefs(
        arr, ql, qc, subsampling, precision, "ycbcr"
    )
    nc = len(coefs)

    def dc_first(dc_codes, Al):
        def code(wr, seg):
            preds = [0] * nc
            for ci, by, bx in seg:
                v = int(coefs[ci][by, bx, 0]) >> Al
                _jpg_put_dc(wr, dc_codes[ci], v - preds[ci])
                preds[ci] = v
        return code

    def optimal(segs, code_with):
        # K.2 table from a census run of the scan's own coder
        census = _JpgCensus()
        _jpg_scan_entropy(segs, _JpgBitWriter, code_with(census))
        return _jpg_optimal_table(census)

    if precision == 8:
        dc_codes = [_jpg_canonical_codes(*_JPG_HUFF[(0, t)]) for t in tqs]
        dc_sel = tqs
        frame_dht = b"".join(
            _jpg_dht_seg(0, t, *_JPG_HUFF[(0, t)]) for t in sorted(set(tqs))
        )
    else:
        dc_sel = [0] * nc
        frame_dht = b""
    out = bytearray(
        b"\xff\xd8"
        + _jpg_dqt_seg(0, ql)
        + (_jpg_dqt_seg(1, qc) if nc > 1 else b"")
        + _jpg_seg(0xC2, _jpg_sof_payload(precision, h, w, [
            (ci + 1, hi, vi, t)
            for ci, ((hi, vi), t) in enumerate(zip(samp, tqs))
        ]))
        + frame_dht
        + _jpg_dri_seg(restart_interval)
    )
    for kind, comp, Ss, Se, Ah, Al, segs in _jpg_prog_scans(
        coefs, samp, h, w, restart_interval
    ):
        scan_dht = b""
        if kind == "dc_first":
            if precision == 12:
                # 12-bit DC diffs reach category 15, past the fixed
                # Annex K tables: ONE optimal table for all components
                # from this scan's own symbols, shipped in its DHT
                bits, vals = optimal(segs, lambda t: dc_first([t] * nc, Al))
                scan_dht = _jpg_dht_seg(0, 0, bits, vals)
                dc_codes = [_jpg_canonical_codes(bits, vals)] * nc
            code = dc_first(dc_codes, Al)
        elif kind == "dc_refine":
            def code(wr, seg):
                for ci, by, bx in seg:
                    wr.put((int(coefs[ci][by, bx, 0]) >> Al) & 1, 1)
        else:
            drive = (
                _jpg_drive_ac_first
                if kind == "ac_first"
                else _jpg_drive_ac_refine
            )

            # a restart segment is an independent entropy unit: the
            # drive function flushes its EOB run and buffered
            # correction bits at the end of each call, which is
            # exactly the per-segment reset T.81 requires. One
            # optimal table still covers the whole scan (tables
            # cannot change mid-scan).
            def ac_code(ac_codes):
                return lambda wr, seg: drive(
                    (coefs[comp][by, bx] for _, by, bx in seg), Ss, Se, Al,
                    lambda s: wr.put(*ac_codes[s]), wr.put,
                )

            bits, vals = optimal(segs, ac_code)
            scan_dht = _jpg_dht_seg(1, 0, bits, vals)
            code = ac_code(_jpg_canonical_codes(bits, vals))
        sel = (
            [(ci + 1, t, 0) for ci, t in enumerate(dc_sel)]
            if comp is None else [(comp + 1, 0, 0)]
        )
        out += scan_dht + _jpg_seg(0xDA, _jpg_sos_payload(sel, Ss, Se, Ah, Al))
        out += _jpg_scan_entropy(segs, _JpgBitWriter, code)
    out += b"\xff\xd9"
    return bytes(out)


def _jpg_scan_end(b: bytes, start: int) -> int:
    """First offset at or after ``start`` holding a real marker
    (0xFF + neither stuffing 0x00 nor RSTm)."""
    pos = start
    while pos + 1 < len(b):
        if b[pos] == 0xFF and b[pos + 1] != 0x00 and not (
            0xD0 <= b[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return len(b)


def _decode_jpeg_progressive(b: bytes):
    """Progressive JPEG (SOF2) bytes -> (h, w, 3) uint8 RGB (or
    grayscale replicated). Full scan machinery: DC first/refine with
    successive approximation, AC first/refine with spectral
    selection, EOBn runs, correction bits, DHT redefinition between
    scans, and DRI/RSTm restart intervals in every scan kind
    (realignment + sequence check + per-segment entropy reset).
    Round 10: any T.81-legal sampling factors with integral
    max/factor ratio — interleaved DC scans walk MCUs with hi*vi
    blocks per component, AC scans walk each component's OWN block
    raster (ceil dims, not the MCU-padded grid), chroma replicates
    back to full resolution like the sequential path."""
    qts: dict[int, object] = {}
    huffs: dict[tuple, dict] = {}
    comps = None
    restart_interval = 0
    for marker, payload, data in _jpg_segments(b):
        if marker == 0xDB:
            _jpg_parse_dqt(payload, qts)
        elif marker == 0xC4:
            _jpg_parse_dht(payload, huffs)
        elif marker == 0xC2:
            prec, h, w, comps = _jpg_parse_sof(payload)
            if prec not in (8, 12):
                require_codec(f"JPEG precision={prec}")
            mcux, mcuy, rasters, coefs = _jpg_prog_frame(h, w, comps)
        elif marker == 0xDD:
            restart_interval = _jpg_parse_dri(payload)
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("JPEG scan before SOF2")
            sel, Ss, Se, Ah, Al = _jpg_parse_sos(payload, comps)
            if Ss == 0 and Se != 0:
                raise ValueError("SOF2 scan mixes DC and AC")
            if Ss and len(sel) != 1:
                raise ValueError("SOF2 AC scan must be one component")
            tabs = [huffs.get((1, at) if Ss else (0, dt)) for _, dt, at in sel]
            if (Ss or not Ah) and None in tabs:
                raise ValueError("JPEG missing table")
            blocks, per_unit, _ = _jpg_scan_blocks(
                sel, comps, rasters, mcux, mcuy
            )
            rd = _JpgBitReader(b[data])
            ri = restart_interval
            preds = [0] * len(sel)
            eobrun = unit_n = 0
            p1, m1 = 1 << Al, -1 << Al
            for i, (si, ci, by, bx) in enumerate(blocks):
                if i % per_unit == 0:
                    # segment boundary: realign, check the RSTm
                    # sequence number, reset the per-segment entropy
                    # state (the encoder flushed it)
                    if ri and unit_n and unit_n % ri == 0:
                        rd.restart(unit_n // ri - 1)
                        preds = [0] * len(sel)
                        eobrun = 0
                    unit_n += 1
                blk = coefs[ci][by, bx]
                if Ss == 0:
                    if Ah == 0:
                        cat = rd.huff(tabs[si])
                        preds[si] += (
                            _jpg_extend(rd.take(cat), cat) if cat else 0
                        )
                        blk[0] = preds[si] << Al
                    else:
                        blk[0] |= rd.take(1) << Al
                elif Ah == 0:
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = Ss
                    while k <= Se:
                        rs = rd.huff(tabs[0])
                        r, s = rs >> 4, rs & 0x0F
                        if s:
                            k += r
                            if k > Se:
                                raise ValueError("JPEG AC run overflow")
                            blk[k] = _jpg_extend(rd.take(s), s) << Al
                            k += 1
                        else:
                            if r != 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += rd.take(r)
                                break
                            k += 16
                else:
                    k = Ss
                    if eobrun == 0:
                        while k <= Se:
                            rs = rd.huff(tabs[0])
                            r, s = rs >> 4, rs & 0x0F
                            sval = 0
                            if s:
                                if s != 1:
                                    raise ValueError("bad AC refine symbol")
                                sval = p1 if rd.take(1) else m1
                            elif r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += rd.take(r)
                                break
                            while k <= Se:
                                v = int(blk[k])
                                if v != 0:
                                    if rd.take(1) and (v & p1) == 0:
                                        blk[k] += p1 if v >= 0 else m1
                                else:
                                    r -= 1
                                    if r < 0:
                                        break
                                k += 1
                            if s:
                                if k > Se:
                                    raise ValueError(
                                        "JPEG AC refine overflow"
                                    )
                                blk[k] = sval
                            k += 1
                    if eobrun > 0:
                        while k <= Se:
                            v = int(blk[k])
                            if v != 0 and rd.take(1) and (v & p1) == 0:
                                blk[k] += p1 if v >= 0 else m1
                            k += 1
                        eobrun -= 1
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("mixed SOF markers in progressive JPEG")
    if comps is None:
        raise ValueError("JPEG missing SOF2/scan data")
    return _jpg_prog_planes(coefs, rasters, comps, qts, h, w, prec)


def _decode_jpeg_arith_progressive(b: bytes):
    """PROGRESSIVE arithmetic JPEG (SOF10, T.81 Annex G.2) ->
    (h, w, 3) uint8 RGB (or grayscale replicated). The progressive
    scan machinery of ``_decode_jpeg_progressive`` driven by the
    Annex D QM-coder instead of Huffman tables: DC first scans run
    the sequential Annex F DC model on the point-transformed diffs
    (DAC L/U conditioning), DC refinement is one equiprobable-bin
    bit per block, AC first scans are the band-limited sequential AC
    model (Kx conditioning, values restored ``<< Al``), AC
    refinement follows Figure G.8 (adaptive correction bits,
    newly-nonzero decisions, EOB only beyond the previous stage's
    end-of-block). Statistics zero at every scan start (DC stats
    only for DC-first scans) and at every restart segment; DRI/RSTm
    restart intervals work in every scan kind (segment split +
    sequence check + fresh coder). 8-bit, 1/3 components (the
    YCbCr/grayscale class, like SOF2 — 4-component arithmetic
    progressive gates); structural damage raises ValueError."""
    qts: dict[int, object] = {}
    comps = None
    restart_interval = 0
    dc_cond = {}
    ac_cond = {}
    fixed = bytearray([113])
    for marker, payload, data in _jpg_segments(b):
        if marker == 0xDB:
            _jpg_parse_dqt(payload, qts)
        elif marker == 0xCC:
            # DAC conditioning (same layout as the sequential path)
            _jpg_parse_dac(payload, dc_cond, ac_cond)
        elif marker == 0xCA:
            prec, h, w, comps = _jpg_parse_sof(payload)
            if prec not in (8, 12):
                require_codec(
                    f"arithmetic progressive JPEG precision={prec}"
                )
            if len(comps) not in (1, 3):
                require_codec(
                    f"{len(comps)}-component arithmetic progressive JPEG"
                )
            mcux, mcuy, rasters, coefs = _jpg_prog_frame(h, w, comps)
        elif marker == 0xDD:
            restart_interval = _jpg_parse_dri(payload)
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("JPEG scan before SOF10")
            sel, Ss, Se, Ah, Al = _jpg_parse_sos(payload, comps)
            if Ss == 0 and Se != 0:
                raise ValueError("SOF10 scan mixes DC and AC")
            if Ss and len(sel) != 1:
                raise ValueError("SOF10 AC scan must be one component")
            # restart cadence: MCUs for interleaved DC scans, the
            # component's own blocks otherwise
            blocks, per_unit, n_units = _jpg_scan_blocks(
                sel, comps, rasters, mcux, mcuy
            )
            segs = iter(
                _jpg_restart_segments(b[data], n_units, restart_interval)
            )
            kx = ac_cond.get(sel[0][2], 5)
            unit_n = 0
            for i, (si, ci, by, bx) in enumerate(blocks):
                if i % per_unit == 0:
                    if unit_n % (restart_interval or n_units) == 0:
                        dec = _QmDecoder(next(segs))
                        # statistics zero at every scan and restart
                        # segment start (G.2); DC refinement uses only
                        # the non-adaptive bin
                        ac_st = bytearray(256)
                        dc_stats = {dt: bytearray(64) for _, dt, _ in sel}
                        preds = [0] * len(sel)
                        dc_ctx = [0] * len(sel)
                    unit_n += 1
                blk = coefs[ci][by, bx]
                if Ss == 0:
                    dt = sel[si][1]
                    if Ah == 0:
                        low, up = dc_cond.get(dt, (0, 1))
                        preds[si] += _arith_dc_decode(
                            dec, dc_stats[dt], dc_ctx, si, low, up
                        )
                        blk[0] = preds[si] << Al
                    else:
                        blk[0] |= dec.decode(fixed, 0) << Al
                elif Ah == 0:
                    _arith_ac_decode(
                        dec, ac_st, fixed, kx, blk, ss=Ss, se=Se, al=Al
                    )
                else:
                    _arith_ac_refine_decode(
                        dec, ac_st, fixed, blk, Ss, Se, Al
                    )
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "mixed SOF markers in arithmetic progressive JPEG"
            )
    if comps is None:
        raise ValueError("JPEG missing SOF10/scan data")
    return _jpg_prog_planes(coefs, rasters, comps, qts, h, w, prec)


# ---------------------------------------------------------------------------
# Hierarchical JPEG (ITU-T T.81 Annex J): DHP announces the final
# dims, then a pyramid of frames — a non-differential base (SOF0/1)
# followed by DIFFERENTIAL frames (SOF5, sequential Huffman) that add
# a correction to the reference, each optionally preceded by an EXP
# marker doubling the reference with the J.1.1.2 interpolation
# ((a + b + 1) >> 1 between neighbors, edge replicated). Differential
# frames code with ZERO DC prediction and no level shift, and their
# sample differences ride the ordinary 8x8 DCT path. Scope: 8-bit,
# 1/3 components, uniform 1x1 sampling (subsampled hierarchies,
# differential progressive/lossless SOF6/7, and arithmetic
# hierarchies gate via require_codec). Tables persist across frames
# per B.2/B.5; DRI applies per frame with the usual RSTm machinery.
# ---------------------------------------------------------------------------


def _jpg_expand_ref(ref, eh: int, ev: int, th: int, tw: int):
    """Annex J.1.1.2 reference expansion: double horizontally and/or
    vertically with (a + b + 1) >> 1 interpolation (edge replicated),
    then crop to the next frame's (th, tw). ``ref`` is the CLAMPED
    integer reconstruction (the spec expands output samples, not the
    float accumulator)."""
    import numpy as np

    out = ref
    if eh:
        right = np.concatenate([out[:, 1:], out[:, -1:]], axis=1)
        inter = (out + right + 1) >> 1
        dbl = np.empty((out.shape[0], out.shape[1] * 2), out.dtype)
        dbl[:, 0::2] = out
        dbl[:, 1::2] = inter
        out = dbl
    if ev:
        down = np.concatenate([out[1:], out[-1:]], axis=0)
        inter = (out + down + 1) >> 1
        dbl = np.empty((out.shape[0] * 2, out.shape[1]), out.dtype)
        dbl[0::2] = out
        dbl[1::2] = inter
        out = dbl
    if out.shape[0] < th or out.shape[1] < tw:
        raise ValueError("JPEG hierarchical reference smaller than frame")
    return out[:th, :tw]


def _decode_jpeg_hierarchical(b: bytes, color_space: str = "auto"):
    """Hierarchical JPEG (DHP) -> (h, w, 3) uint8. Decodes the frame
    pyramid: non-differential SOF0/SOF1 frames replace the
    reference, SOF5 differential frames add their decoded difference
    (zero DC prediction, no level shift), EXP markers expand the
    reference ahead of the next frame. Final output is the clamped
    reference at the DHP dims through the usual color tail."""
    import numpy as np

    qts: dict[int, object] = {}
    huffs: dict[tuple, dict] = {}
    dhp = None
    refs = None  # list of float64 planes at the current frame dims
    exp_pending = None
    restart_interval = 0
    dc_cond: dict[int, tuple] = {}
    ac_cond: dict[int, int] = {}
    frame = None  # (h, w, comps, differential, arith) awaiting its SOS

    def frame_header(payload):
        prec, fh, fw, comps = _jpg_parse_sof(payload)
        if prec != 8:
            require_codec(f"hierarchical JPEG precision={prec}")
        if any(c[2:] != (1, 1) for c in comps):
            require_codec("hierarchical JPEG with subsampled components")
        return fh, fw, comps

    for marker, payload, data in _jpg_segments(b):
        if marker == 0xDB:
            _jpg_parse_dqt(payload, qts)
        elif marker == 0xC4:
            _jpg_parse_dht(payload, huffs)
        elif marker == 0xDE:
            if dhp is not None:
                raise ValueError("JPEG multiple DHP markers")
            dhp = frame_header(payload)
            if len(dhp[2]) not in (1, 3):
                require_codec(f"{len(dhp[2])}-component hierarchical JPEG")
        elif marker == 0xDF:
            if dhp is None:
                raise ValueError("JPEG EXP before DHP")
            if len(payload) < 1:
                raise ValueError("JPEG EXP truncated")
            eh, ev = payload[0] >> 4, payload[0] & 0x0F
            if eh > 1 or ev > 1 or not (eh or ev):
                raise ValueError("JPEG EXP expansion flags invalid")
            exp_pending = (eh, ev)
        elif marker in (0xC0, 0xC1, 0xC5, 0xC9, 0xCD):
            # round 13: SOF9 (non-differential arithmetic) and SOF13
            # (differential sequential arithmetic) frames ride the
            # pyramid too — the QM models swap in at the scan level
            if dhp is None:
                raise ValueError(
                    "JPEG differential/pyramid frame outside a hierarchy"
                    if marker in (0xC5, 0xCD)
                    else "JPEG frame before DHP"
                )
            fh, fw, comps = frame_header(payload)
            if [c[0] for c in comps] != [c[0] for c in dhp[2]]:
                raise ValueError("JPEG frame/DHP component mismatch")
            if fh > dhp[0] or fw > dhp[1]:
                raise ValueError("JPEG frame larger than the DHP dims")
            frame = (
                fh, fw, comps, marker in (0xC5, 0xCD),
                marker in (0xC9, 0xCD),
            )
        elif marker in (0xC2, 0xC3, 0xC6, 0xC7):
            require_codec(
                "hierarchical JPEG progressive/lossless frame "
                f"(SOF 0xFF{marker:02X})"
            )
        elif marker in (0xCA, 0xCB, 0xCE, 0xCF):
            require_codec(
                "arithmetic progressive/lossless hierarchical "
                f"JPEG frame (SOF 0xFF{marker:02X})"
            )
        elif marker == 0xCC:
            # DAC conditioning for the arithmetic frames
            _jpg_parse_dac(payload, dc_cond, ac_cond)
        elif marker == 0xDD:
            restart_interval = _jpg_parse_dri(payload)
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("JPEG scan before a hierarchical frame")
            fh, fw, comps, differential, arith = frame
            sel = _jpg_parse_sos(payload, comps)[0]
            if arith:
                planes = _jpg_arith_scan(
                    b[data], fh, fw, comps, sel, qts, restart_interval,
                    dc_cond, ac_cond, differential,
                )
            else:
                planes = _jpg_huff_scan(
                    b[data], fh, fw, comps, sel, huffs, qts,
                    restart_interval, differential,
                )
            if differential:
                if refs is None:
                    raise ValueError(
                        "JPEG differential frame without a reference"
                    )
                base = [
                    np.clip(np.floor(r + 0.5), 0, 255) for r in refs
                ]
                if exp_pending:
                    eh, ev = exp_pending
                    base = [
                        _jpg_expand_ref(
                            r.astype(np.int64), eh, ev, fh, fw
                        ).astype(np.float64)
                        for r in base
                    ]
                    exp_pending = None
                for r in base:
                    if r.shape != (fh, fw):
                        raise ValueError(
                            "JPEG hierarchical reference/frame dims "
                            "mismatch"
                        )
                refs = [r + d for r, d in zip(base, planes)]
            else:
                if exp_pending is not None:
                    raise ValueError(
                        "JPEG EXP before a non-differential frame"
                    )
                refs = [p + 128.0 for p in planes]
            frame = None
    if dhp is None or refs is None:
        raise ValueError("JPEG missing DHP frame pyramid")
    fy, fx, dhp_comps = dhp
    if refs[0].shape != (fy, fx):
        raise ValueError("JPEG hierarchy never reached the DHP dims")
    planes = refs
    if len(planes) == 1:
        g = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    ids = tuple(c[0] for c in dhp_comps)
    if color_space == "rgb" or (
        color_space == "auto" and ids == (0x52, 0x47, 0x42)
    ):
        out = np.stack(
            [np.clip(np.floor(p + 0.5), 0, 255) for p in planes],
            axis=-1,
        )
        return out.astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    bl = y + 1.772 * (cb - 128.0)
    return np.stack(
        [np.clip(np.floor(x + 0.5), 0, 255) for x in (r, g, bl)],
        axis=-1,
    ).astype(np.uint8)


def encode_jpeg_hierarchical(
    arr,
    quality: int = 90,
    levels: int = 2,
    restart_interval: int = 0,
    expansion: bool = True,
    arith: bool = False,
) -> bytes:
    """(h, w, 3) RGB or (h, w) gray uint8 -> hierarchical JPEG
    (DHP): a ``levels``-deep pyramid — the base frame encodes the
    2^(levels-1)-downsampled image (box mean, round half up) as
    SOF0, then each level expands the encoder's own reconstruction
    with the J.1.1.2 filter (closed loop — encoder and decoder track
    the same reference) and codes the residual as a DIFFERENTIAL
    SOF5 frame (zero DC prediction, no level shift) quantized at
    quality 100 (unit steps). With ``expansion=False`` every frame runs at
    the FULL dims (no EXP markers) — the spec's QUALITY-refinement
    hierarchy: the base is a coarse encoding and each differential
    frame corrects its residual (on a block-constant raster the
    residual is an integer constant per block, so unit-step
    differential quantization makes the pyramid bit-exact at ANY
    base quality — the census argument). Components are 1x1-sampled
    (RGB rides YCbCr 4:4:4); Annex K tables are emitted once and
    persist across frames. ``restart_interval`` applies to every
    frame. ``arith=True`` (round 13) entropy-codes every frame
    through the QM-coder instead — SOF9 base + SOF13 differential
    frames (zero DC prediction coded as the value itself), default
    DAC conditioning, per-frame and per-restart statistics resets —
    the arithmetic HIERARCHY the T.81 Annex J + Annex D composition
    allows."""
    import numpy as np

    if not 1 <= levels <= 6:
        raise ValueError("hierarchical levels must be in 1..6")
    planes, tqs = _jpg_color_planes(arr, 8, "ycbcr")
    h, w = planes[0].shape
    nc = len(planes)
    ql, qc = _jpg_quant_tables(quality)
    dl, dc_ = _jpg_quant_tables(100)
    # table ids: 0/1 = base luma/chroma, 2/3 = differential
    qtabs = {0: ql, 1: qc, 2: dl, 3: dc_}
    tabs = [
        (_jpg_canonical_codes(*_JPG_HUFF[(0, t)]),
         _jpg_canonical_codes(*_JPG_HUFF[(1, t)]))
        for t in tqs
    ]

    # pyramid dims, finest last
    dims = [(h, w)]
    for _ in range(levels - 1):
        if expansion:
            ph, pw = dims[0]
            dims.insert(0, (-(-ph // 2), -(-pw // 2)))
        else:
            dims.insert(0, (h, w))

    seg = _jpg_seg
    def encode_frame(srcs, qids, differential):
        # srcs: per-component int64 sample (or difference) planes
        fh, fw = srcs[0].shape
        mcux, mcuy = -(-fw // 8), -(-fh // 8)
        coefs = []
        for src, q in zip(srcs, qids):
            c = _jpg_fdct_grid(_jpg_pad(src, mcuy * 8, mcux * 8), qtabs[q])
            # Annex K table reach: AC categories stop at 10 (|v| <=
            # 1023), DC at 11 — worst-case alternating DIFFERENCE
            # blocks at unit quant steps could exceed them, so clamp
            # (encoder's legal choice of coefficients; pathological
            # blocks lose a little accuracy, never crash)
            dc0 = np.clip(c[..., 0], -2047, 2047)
            c = np.clip(c, -1023, 1023)
            c[..., 0] = dc0
            coefs.append(c)
        segs = _jpg_mcu_blocks(coefs, [(1, 1)] * nc, restart_interval)
        if arith:
            entropy = _arith_seq_entropy(
                coefs, segs, tqs, (0, 1), 5, differential
            )
            sof_marker = 0xCD if differential else 0xC9
        else:
            entropy = _jpg_huff_seq_entropy(coefs, segs, tabs, differential)
            sof_marker = 0xC5 if differential else 0xC0
        recon = []
        for c, q in zip(coefs, qids):
            r = np.zeros((mcuy * 8, mcux * 8))
            for by, bx in np.ndindex(mcuy, mcux):
                r[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _jpg_idct_block(c[by, bx], qtabs[q])
                )
            recon.append(r[:fh, :fw])
        sof = _jpg_sof_payload(8, fh, fw, [
            (ci + 1, 1, 1, qids[ci]) for ci in range(nc)
        ])
        sos = _jpg_sos_payload(
            [(ci + 1, t, t) for ci, t in enumerate(tqs)], 0, 63, 0, 0
        )
        return seg(sof_marker, sof) + seg(0xDA, sos) + entropy, recon

    out = bytearray(b"\xff\xd8")
    out += _jpg_dqt_seg(0, ql)
    if nc == 3:
        out += _jpg_dqt_seg(1, qc)
    out += _jpg_dqt_seg(2, dl)
    if nc == 3:
        out += _jpg_dqt_seg(3, dc_)
    if arith:
        # explicit default DAC for both entropy tables/classes
        out += _jpg_dac_seg(tqs, (0, 1), 5, True)
    else:
        for (cls, tid), (bits, vals) in _JPG_HUFF.items():
            if tid in tqs:
                out += _jpg_dht_seg(cls, tid, bits, vals)
    out += seg(0xDE, _jpg_sof_payload(8, h, w, [
        (ci + 1, 1, 1, tqs[ci]) for ci in range(nc)
    ]))
    out += _jpg_dri_seg(restart_interval)

    refs = None
    for li, (lh, lw) in enumerate(dims):
        level_planes = [
            _jpg_box_mean(p, -(-h // lh), -(-w // lw)) if (lh, lw) != (h, w)
            else p.astype(np.int64)
            for p in planes
        ]
        if li == 0:
            body, recon = encode_frame(
                [p - 128 for p in level_planes],
                [tqs[ci] for ci in range(nc)],
                differential=False,
            )
            out += body
            refs = [
                np.clip(np.floor(r + 128.0 + 0.5), 0, 255).astype(
                    np.int64
                )
                for r in recon
            ]
        else:
            ph, pw = dims[li - 1]
            eh = 1 if lw > pw else 0
            ev = 1 if lh > ph else 0
            if eh or ev:
                out += seg(0xDF, bytes([(eh << 4) | ev]))
                refs = [
                    _jpg_expand_ref(r, eh, ev, lh, lw) for r in refs
                ]
            body, recon = encode_frame(
                [p - r for p, r in zip(level_planes, refs)],
                [2 if tqs[ci] == 0 else 3 for ci in range(nc)],
                differential=True,
            )
            out += body
            refs = [
                np.clip(r + np.floor(d + 0.5), 0, 255).astype(np.int64)
                for r, d in zip(refs, recon)
            ]
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (SOF9, extended sequential DCT with arithmetic
# coding — ITU-T T.81 Annexes D and F): the QM-coder with the Table
# D.3 state machine, byte-oriented output with carry resolution over
# stacked 0xFF bytes, 0x00 byte stuffing after 0xFF (so the marker
# framing rules are the same as Huffman scans), and the Annex F
# statistical models — DC diff conditioning on the previous diff's
# class (DAC L/U bounds), per-index AC EOB/significance trees with
# the Kx low/high magnitude-chain split, and the non-adaptive
# equiprobable bin for AC signs. Register conventions follow the
# widely-published software realization of the Annex D flowcharts
# (the libjpeg layout: decoder keeps C unshifted and aligns interval
# boundaries by the spare-bit count; encoder carries at bit 27 with
# pending-byte + stacked-0xFF + deferred-zero bookkeeping).
# Encoder and decoder share ONE transcription of Table D.3, and the
# pair is pinned by an exhaustive entropy-layer identity property
# plus bit-exact pixel closed forms on block-constant corpora.
# ---------------------------------------------------------------------------

# T.81 Table D.3 rows as (Qe, NLPS, NMPS, switch); index 113 is the
# fixed equiprobable bin (AC signs — never adapts: both transitions
# return to 113 with switch 0).
_JPEG_ARITAB = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)


class _QmDecoder:
    """T.81 Annex D.2 arithmetic decoder over ONE entropy segment
    (restart segments are split by the caller, so the buffer holds no
    markers). Context state bytes pack mps<<7 | table_index. Past the
    segment end the decoder feeds zero bytes — the termination
    convention that pairs with the encoder's trailing-zero
    suppression."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.bp = 0
        self.c = 0
        self.a = 0
        self.ct = -16  # force two initial byte loads

    def _byte(self) -> int:
        if self.bp >= len(self.buf):
            return 0
        d = self.buf[self.bp]
        self.bp += 1
        if d == 0xFF:
            # stuffed zero byte follows any data 0xFF (D.1.6); the
            # caller strips markers, so anything else is damage
            if self.bp >= len(self.buf):
                return 0xFF  # trailing 0xFF: stuffing implied at end
            if self.buf[self.bp] != 0x00:
                raise ValueError("JPEG arithmetic stream missing stuffing")
            self.bp += 1
            return 0xFF
        return d

    def decode(self, st: bytearray, i: int) -> int:
        # renormalize + feed (D.2.6)
        while self.a < 0x8000:
            self.ct -= 1
            if self.ct < 0:
                self.c = (self.c << 8) | self._byte()
                self.ct += 8
                if self.ct < 0:
                    self.ct += 1
                    if self.ct == 0:
                        self.a = 0x8000  # -> 0x10000 after the shift
            self.a <<= 1
        sv = st[i]
        qe, nlps, nmps, sw = _JPEG_ARITAB[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        boundary = self.a << self.ct
        if self.c < boundary:
            # MPS subinterval (conditional exchange when inverted)
            if self.a < qe:
                st[i] = ((mps ^ sw) << 7) | nlps
                return 1 - mps
            if self.a >= 0x8000:
                return mps  # fast path, no renorm, no estimation
            st[i] = (mps << 7) | nmps
            return mps
        self.c -= boundary
        if self.a < qe:
            st[i] = (mps << 7) | nmps
            self.a = qe
            return mps
        st[i] = ((mps ^ sw) << 7) | nlps
        self.a = qe
        return 1 - mps


class _QmEncoder:
    """T.81 Annex D.1 arithmetic encoder for one entropy segment.
    Carry resolution per the published software realization: one
    pending output byte, a count of stacked 0xFF bytes (which a carry
    converts to 0x00s), deferred zero bytes so trailing zeros can be
    suppressed at flush, and 0x00 stuffed after every emitted 0xFF."""

    def __init__(self):
        self.c = 0
        self.a = 0x10000
        self.ct = 11
        self.buffer = -1
        self.sc = 0
        self.zc = 0
        self.out = bytearray()

    def _pending_zeros(self):
        if self.zc:
            self.out += b"\x00" * self.zc
            self.zc = 0

    def encode(self, st: bytearray, i: int, bit: int) -> None:
        sv = st[i]
        qe, nlps, nmps, sw = _JPEG_ARITAB[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if bit != mps:
            if self.a >= qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            st[i] = ((mps ^ sw) << 7) | nlps
        else:
            if self.a >= 0x8000:
                return  # no renorm needed, no estimation (D.1.4)
            if self.a < qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            st[i] = (mps << 7) | nmps
        while True:  # renormalize + byte out (D.1.6)
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                temp = self.c >> 19
                if temp > 0xFF:
                    # carry: propagate into the pending byte and
                    # convert every stacked 0xFF to 0x00
                    if self.buffer >= 0:
                        self._pending_zeros()
                        self.out.append(self.buffer + 1)
                        if self.buffer + 1 == 0xFF:
                            self.out.append(0x00)
                    self.zc += self.sc
                    self.sc = 0
                    # spacer bits guarantee temp & 0xFF != 0xFF here
                    self.buffer = temp & 0xFF
                elif temp == 0xFF:
                    self.sc += 1  # stack: a later carry may flip it
                else:
                    if self.buffer >= 0:
                        self._pending_zeros()
                        self.out.append(self.buffer)
                    if self.sc:
                        self._pending_zeros()
                        self.out += b"\xff\x00" * self.sc
                        self.sc = 0
                    self.buffer = temp
                self.c &= 0x7FFFF
                self.ct += 8
            if self.a >= 0x8000:
                break

    def flush(self) -> bytes:
        # termination (D.1.8): pick the in-interval value with the
        # most trailing zeros, then drain pending bytes
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            if self.buffer >= 0:
                self._pending_zeros()
                self.out.append(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self.out.append(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._pending_zeros()
                self.out.append(self.buffer)
            if self.sc:
                self._pending_zeros()
                self.out += b"\xff\x00" * self.sc
                self.sc = 0
        # final code bytes, only when not all-zero (trailing zeros
        # are suppressed — the decoder feeds zeros past the end)
        if self.c & 0x7FFF800:
            self._pending_zeros()
            b1 = (self.c >> 19) & 0xFF
            self.out.append(b1)
            if b1 == 0xFF:
                self.out.append(0x00)
            if self.c & 0x7F800:
                b2 = (self.c >> 11) & 0xFF
                self.out.append(b2)
                if b2 == 0xFF:
                    self.out.append(0x00)
        return bytes(self.out)


def _arith_dc_decode(dec, st, dc_ctx, ci, low, up):
    """Annex F.2.4.1: decode one DC diff; updates the conditioning
    class for the NEXT block of this component."""
    base = dc_ctx[ci]
    if dec.decode(st, base) == 0:
        dc_ctx[ci] = 0
        return 0
    sign = dec.decode(st, base + 1)
    idx = base + 2 + sign
    m = dec.decode(st, idx)
    if m:
        idx = 20  # X1 (Table F.4)
        while dec.decode(st, idx):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arithmetic DC magnitude overflow")
            idx += 1
    if m < ((1 << low) >> 1):
        dc_ctx[ci] = 0
    elif m > ((1 << up) >> 1):
        dc_ctx[ci] = 12 + sign * 4
    else:
        dc_ctx[ci] = 4 + sign * 4
    v = m
    idx += 14
    mm = m >> 1
    while mm:
        if dec.decode(st, idx):
            v |= mm
        mm >>= 1
    v += 1
    return -v if sign else v


def _arith_dc_encode(enc, st, dc_ctx, ci, diff, low, up):
    base = dc_ctx[ci]
    if diff == 0:
        enc.encode(st, base, 0)
        dc_ctx[ci] = 0
        return
    enc.encode(st, base, 1)
    sign = 1 if diff < 0 else 0
    v = (-diff if sign else diff)
    enc.encode(st, base + 1, sign)
    idx = base + 2 + sign
    v -= 1
    m = 0
    if v:
        enc.encode(st, idx, 1)
        m = 1
        idx = 20
        v2 = v
        while v2 >> 1:
            v2 >>= 1
            enc.encode(st, idx, 1)
            m <<= 1
            idx += 1
    enc.encode(st, idx, 0)
    if m < ((1 << low) >> 1):
        dc_ctx[ci] = 0
    elif m > ((1 << up) >> 1):
        dc_ctx[ci] = 12 + sign * 4
    else:
        dc_ctx[ci] = 4 + sign * 4
    idx += 14
    mm = m >> 1
    while mm:
        enc.encode(st, idx, 1 if (v & mm) else 0)
        mm >>= 1


def _arith_ac_decode(dec, st, fixed, kx, coefs, ss=1, se=63, al=0):
    """Annex F.2.4.2: decode the AC coefficients of one block into
    ``coefs`` (zigzag order). Band-parameterized (round 13): the
    progressive AC-first scan (Annex G.2) is the SAME model limited
    to the spectral band ``ss..se`` with decoded values restored at
    ``<< al`` (point transform); the sequential caller keeps the
    defaults (full band, no shift)."""
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if dec.decode(st, base):  # EOB
            return
        while dec.decode(st, base + 1) == 0:
            base += 3
            k += 1
            if k > se:
                raise ValueError("JPEG arithmetic AC run overflow")
        sign = dec.decode(fixed, 0)
        idx = base + 2
        m = dec.decode(st, idx)
        if m:
            if dec.decode(st, idx):
                m = 2
                idx = 189 if k <= kx else 217
                while dec.decode(st, idx):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError(
                            "JPEG arithmetic AC magnitude overflow"
                        )
                    idx += 1
        v = m
        idx += 14
        mm = m >> 1
        while mm:
            if dec.decode(st, idx):
                v |= mm
            mm >>= 1
        v += 1
        coefs[k] = (-v if sign else v) << al
        k += 1


def _arith_ac_encode(enc, st, fixed, kx, coefs, ss=1, se=63, al=0):
    """Annex F.1.4.2 / G.1.3.2 (band-parameterized, see the decode
    twin): point transform is magnitude-truncation ``abs(v) >> al``
    with the sign carried — T.81 G.1.2.2's toward-zero rule, the
    same transform the Huffman progressive encoder applies."""
    ke = se
    while ke >= ss and (abs(int(coefs[ke])) >> al) == 0:
        ke -= 1
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        enc.encode(st, base, 0)  # not EOB yet
        v = abs(int(coefs[k])) >> al
        while v == 0:
            enc.encode(st, base + 1, 0)
            base += 3
            k += 1
            v = abs(int(coefs[k])) >> al
        enc.encode(st, base + 1, 1)
        sign = 1 if int(coefs[k]) < 0 else 0
        enc.encode(fixed, 0, sign)
        idx = base + 2
        v -= 1
        m = 0
        if v:
            enc.encode(st, idx, 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(st, idx, 1)
                m <<= 1
                idx = 189 if k <= kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(st, idx, 1)
                    m <<= 1
                    idx += 1
        enc.encode(st, idx, 0)
        idx += 14
        mm = m >> 1
        while mm:
            enc.encode(st, idx, 1 if (v & mm) else 0)
            mm >>= 1
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def _arith_ac_refine_decode(dec, st, fixed, coefs, ss, se, al):
    """Annex G.2 AC successive-approximation refinement (the Figure
    G.8 software realization): per band index, previously-nonzero
    coefficients get an adaptive correction bit (context base+2)
    that moves the magnitude toward ``|v| + 2^al``; zero history
    walks newly-nonzero decisions (base+1) whose sign comes from the
    equiprobable bin; the EOB decision (base) is only coded beyond
    the PREVIOUS stage's end-of-block index ``kex`` — past an EOB
    flag nothing else in the block is coded."""
    p1, m1 = 1 << al, -(1 << al)
    kex = se
    while kex >= ss and coefs[kex] == 0:
        kex -= 1
    k = ss
    while k <= se:
        base = 3 * (k - 1)
        if k > kex and dec.decode(st, base):
            return  # EOB: no further correction bits in this block
        while True:
            v = int(coefs[k])
            if v != 0:
                if dec.decode(st, base + 2):
                    coefs[k] = v + (p1 if v >= 0 else m1)
                break
            if dec.decode(st, base + 1):
                coefs[k] = m1 if dec.decode(fixed, 0) else p1
                break
            base += 3
            k += 1
            if k > se:
                raise ValueError("JPEG arithmetic AC refine overflow")
        k += 1


def _arith_ac_refine_encode(enc, st, fixed, coefs, ss, se, al):
    """Encode twin of ``_arith_ac_refine_decode`` (Figure G.10):
    ``ke`` is this stage's end-of-block (last ``abs >> al`` nonzero),
    ``kex`` the previous stage's (last ``abs >> (al+1)`` nonzero —
    Ah == al+1 in a one-bit cascade); the EOB decision is coded only
    for k > kex, and the trailing EOB flag only when ke < se."""
    ke = se
    while ke >= ss and (abs(int(coefs[ke])) >> al) == 0:
        ke -= 1
    kex = ke
    while kex >= ss and (abs(int(coefs[kex])) >> (al + 1)) == 0:
        kex -= 1
    k = ss
    while k <= ke:
        base = 3 * (k - 1)
        if k > kex:
            enc.encode(st, base, 0)  # not EOB yet
        while True:
            v = int(coefs[k])
            t = abs(v) >> al
            if t > 1:  # previously nonzero: adaptive correction bit
                enc.encode(st, base + 2, t & 1)
                break
            if t == 1:  # newly nonzero this stage
                enc.encode(st, base + 1, 1)
                enc.encode(fixed, 0, 1 if v < 0 else 0)
                break
            enc.encode(st, base + 1, 0)
            base += 3
            k += 1
        k += 1
    if k <= se:
        enc.encode(st, 3 * (k - 1), 1)  # EOB


def _decode_jpeg_arith(b: bytes, color_space: str = "auto"):
    """SOF9 (extended sequential, arithmetic coding) -> (h, w, 3)
    uint8. 8-bit precision, 1 or 3 components, any integral-ratio
    sampling, DAC conditioning (defaults L=0, U=1, Kx=5 when the
    marker is absent — F.1.4.4.1.2/F.1.4.4.2), DRI/RSTm restart
    intervals (fresh coder + zeroed statistics + reset DC contexts
    per segment, sequence numbers checked). Round 13: precision 12
    decodes for the gray/YCbCr class (level shift 2^(P-1), uint16
    rasters — the Annex F models are precision-agnostic, the wider
    DC/AC magnitudes stay inside the standard context layout);
    12-bit RGB-space/CMYK and other precisions gate; structural
    damage raises ValueError."""
    import numpy as np

    qts: dict[int, object] = {}
    sof = None
    scan = None
    restart_interval = 0
    dc_cond = {}
    ac_cond = {}
    for marker, payload, data in _jpg_segments(b):
        if marker == 0xDB:
            _jpg_parse_dqt(payload, qts)
        elif marker == 0xC9:
            sof = _jpg_parse_sof(payload)
            prec, _, _, comps = sof
            if prec not in (8, 12):
                require_codec(f"arithmetic JPEG precision={prec}")
            if len(comps) not in (1, 3, 4):
                require_codec(f"{len(comps)}-component arithmetic JPEG")
            if prec == 12 and len(comps) == 4:
                require_codec("4-component 12-bit arithmetic JPEG")
            if prec == 12 and (
                color_space == "rgb"
                or tuple(c[0] for c in comps) == (0x52, 0x47, 0x42)
            ):
                # refuse at the HEADER, before the O(pixels) QM
                # walk (round-13 review)
                require_codec("12-bit RGB-space arithmetic JPEG")
        elif marker == 0xCC:
            # DAC: pairs of (Tc<<4|Tb, Cs) — DC Cs packs U<<4|L,
            # AC Cs is Kx (T.81 B.2.4.3)
            _jpg_parse_dac(payload, dc_cond, ac_cond)
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG multiple SOF markers")
        elif marker == 0xDD:
            restart_interval = _jpg_parse_dri(payload)
        elif marker == 0xDA:
            if sof is None:
                break
            sel, ss, se, ah, al = _jpg_parse_sos(payload, sof[3])
            if ss != 0 or se != 63 or ah or al:
                require_codec("progressive arithmetic JPEG scan")
            scan = (sel, b[data])
            break
    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF9/SOS")
    prec, h, w, comps = sof
    sel, data = scan
    # precision-parameterized output (round 13, the encode_jpeg12
    # pattern): level shift and YCbCr relations center on 2^(P-1),
    # clip at 2^P - 1, uint16 rasters above 8 bits
    lvl = float(1 << (prec - 1))
    full = (1 << prec) - 1
    odt = np.uint8 if prec == 8 else np.uint16
    planes = [
        p_ + lvl
        for p_ in _jpg_arith_scan(
            data, h, w, comps, sel, qts, restart_interval, dc_cond,
            ac_cond, False,
        )
    ]
    if len(planes) == 1:
        g = np.clip(np.floor(planes[0] + 0.5), 0, full).astype(odt)
        return np.stack([g, g, g], axis=-1)
    ids = tuple(c[0] for c in comps)
    if len(planes) == 4:
        # 4-component SOF9: the Adobe scanned-CMYK class — raw ink
        # planes under the CMYK-ID convention or the container's
        # 'cmyk' contract (no transform; the container owns the ink
        # conversion). YCCK arithmetic stays gated.
        if color_space == "cmyk" or (
            color_space == "auto" and ids == (0x43, 0x4D, 0x59, 0x4B)
        ):
            out = np.stack(
                [np.clip(np.floor(p_ + 0.5), 0, 255) for p_ in planes],
                axis=-1,
            )
            return out.astype(np.uint8)
        require_codec("4-component arithmetic JPEG color transform")
    if color_space == "rgb" or (
        color_space == "auto" and ids == (0x52, 0x47, 0x42)
    ):
        # prec 12 was refused at the SOF header already
        out = np.stack(
            [np.clip(np.floor(p_ + 0.5), 0, 255) for p_ in planes],
            axis=-1,
        )
        return out.astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - lvl)
    g = y - 0.344136286 * (cb - lvl) - 0.714136286 * (cr - lvl)
    bl = y + 1.772 * (cb - lvl)
    return np.stack(
        [np.clip(np.floor(x + 0.5), 0, full) for x in (r, g, bl)],
        axis=-1,
    ).astype(odt)


def _arith_seq_entropy(coefs, segs, tqs, dc_cond, ac_kx: int,
                       differential: bool) -> bytes:
    """Sequential QM-coded scan (Annex D coder, Annex F models) over
    the MCU walk ``segs``: each restart segment starts a fresh coder
    with zeroed statistics, DC contexts and predictors. Hierarchical
    differential frames (SOF13) code each block's DC value itself
    (zero prediction, J.1)."""
    low, up = dc_cond

    def code(enc, seg):
        dc_stats = {t: bytearray(64) for t in tqs}
        ac_stats = {t: bytearray(256) for t in tqs}
        fixed = bytearray([113])
        dc_ctx = [0] * len(coefs)
        preds = [0] * len(coefs)
        for ci, by, bx in seg:
            zc = coefs[ci][by, bx]
            dcv = int(zc[0])
            diff = dcv if differential else dcv - preds[ci]
            preds[ci] = dcv
            t = tqs[ci]
            _arith_dc_encode(enc, dc_stats[t], dc_ctx, ci, diff, low, up)
            _arith_ac_encode(enc, ac_stats[t], fixed, ac_kx, zc)

    return _jpg_scan_entropy(segs, _QmEncoder, code)


def _arith_seq_encode(arr, quality: int, subsampling: str, precision: int,
                      space: str, restart_interval: int, dc_cond,
                      ac_kx: int, emit_dac: bool) -> bytes:
    """Shared SOF9 encoder of the 8-bit and 12-bit arithmetic
    sequential encoders: the front end, the QM-coded MCU walk and the
    DQT/SOF/DAC/DRI/SOS marker stream; untransformed ``rgb_space``
    components carry the libjpeg letter ids."""
    ql, qc = _jpg_quant_tables(quality)
    coefs, samp, tqs, h, w = _jpg_quantized_coefs(
        arr, ql, qc, subsampling, precision, space
    )
    dac = _jpg_dac_seg(tqs, dc_cond, ac_kx, emit_dac)
    entropy = _arith_seq_entropy(
        coefs, _jpg_mcu_blocks(coefs, samp, restart_interval), tqs,
        dc_cond, ac_kx, False,
    )
    nc = len(coefs)
    comp_ids = (
        _JPG_LETTER_IDS[nc] if space == "rgb_space" else range(1, nc + 1)
    )
    dqt = _jpg_dqt_seg(0, ql)
    if 1 in tqs:
        dqt += _jpg_dqt_seg(1, qc)
    sof = _jpg_sof_payload(precision, h, w, [
        (cid, hi, vi, t) for cid, (hi, vi), t in zip(comp_ids, samp, tqs)
    ])
    sos = _jpg_sos_payload(
        [(cid, t, t) for cid, t in zip(comp_ids, tqs)], 0, 63, 0, 0
    )
    return (
        b"\xff\xd8" + dqt + _jpg_seg(0xC9, sof) + dac
        + _jpg_dri_seg(restart_interval)
        + _jpg_seg(0xDA, sos) + entropy + b"\xff\xd9"
    )


def encode_jpeg_arith(
    arr,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
    dc_cond=(0, 1),
    ac_kx: int = 5,
    emit_dac: bool = True,
    rgb_space: bool = False,
) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> SOF9 arithmetic
    sequential JPEG. Same color transform / subsampling / libjpeg-
    scaled Annex K quantization pipeline as ``encode_jpeg``; entropy
    via the Annex D QM-coder with the Annex F models. ``dc_cond``
    (L, U) and ``ac_kx`` set the DAC conditioning (written for every
    used table when ``emit_dac``; omitted otherwise so the decoder's
    defaults path is exercised — only legal when the values ARE the
    defaults). Restart intervals flush the coder and emit RSTm, with
    statistics and DC contexts reset per segment. ``rgb_space``
    stores 3 (R/G/B) or 4 (C/M/Y/K) components UNTRANSFORMED with
    the libjpeg component-ID convention — the Adobe scanned-CMYK
    class rides SOF9 this way (round 12); 4:4:4 only, luma tables
    for every component."""
    return _arith_seq_encode(
        arr, quality, subsampling, 8, "rgb_space" if rgb_space else "ycbcr",
        restart_interval, dc_cond, ac_kx, emit_dac,
    )


def encode_jpeg_arith12(
    arr,
    quality: int = 90,
    restart_interval: int = 0,
    dc_cond=(0, 1),
    ac_kx: int = 5,
    emit_dac: bool = True,
) -> bytes:
    """(h, w) gray or (h, w, 3) RGB uint16 (< 4096) -> 12-BIT
    arithmetic sequential JPEG (SOF9 at precision 12 — the
    DICOM/DNG class rides arithmetic coding in the wild exactly
    because the QM-coder needs no 12-bit Huffman table rework).
    Front end identical to ``encode_jpeg12`` (level shift 2048,
    YCbCr relations centered likewise, the UNSCALED 8-bit-domain
    Annex-K quantization tables — spec-legal at any precision);
    entropy via the Annex D QM-coder with the Annex F models, which
    are precision-agnostic — 12-bit DC diffs reach magnitude
    category 15, still inside the standard DC context layout (X1
    chain + 14-bin mantissa area fits the 64-byte statistics
    block). Conditioning/DAC/restart semantics as in
    ``encode_jpeg_arith``; 4:4:4 only."""
    return _arith_seq_encode(
        arr, quality, "444", 12, "ycbcr", restart_interval, dc_cond, ac_kx,
        emit_dac,
    )


def encode_jpeg_arith_progressive(
    arr,
    quality: int = 90,
    restart_interval: int = 0,
    subsampling: str = "444",
    dc_cond=(0, 1),
    ac_kx: int = 5,
    emit_dac: bool = True,
    precision: int = 8,
) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> PROGRESSIVE
    arithmetic JPEG (SOF10, T.81 Annex G.2): the Huffman progressive
    scan script (interleaved DC with successive approximation,
    per-component spectral-selection AC bands, refinement cascade)
    re-coded through the Annex D QM-coder. Same quantization front
    end as ``encode_jpeg_progressive`` — the stream is a lossless
    re-coding of the SAME coefficients, so decoding it must equal
    decoding the sequential/Huffman-progressive stream of the same
    image bit-exactly. Scan models: DC-first = the sequential Annex
    F DC model on the point-transformed diffs; DC-refine = one
    equiprobable-bin bit per block; AC-first = the sequential AC
    model band-limited with the toward-zero point transform;
    AC-refine = the Figure G.10 correction-bit model. Statistics
    zero at every scan start (DC stats only for DC-first scans, per
    the G.2 convention) and at every restart segment; each scan and
    each restart segment is its own QM entropy segment (flush +
    RSTm, m cycling per scan). ``dc_cond``/``ac_kx`` write one DAC
    after the SOF when ``emit_dac`` (omitting it requires the
    default conditioning, exercising the decoder's defaults path).
    ``precision=12`` (round 13) rides the ``encode_jpeg12`` front
    end — uint16 samples < 4096, level shift 2048, 4:4:4 only; the
    G.2 models are precision-agnostic, so only the front end and
    the SOF precision byte change."""
    if precision not in (8, 12):
        raise ValueError("arithmetic progressive precision must be 8/12")
    if precision == 12 and subsampling != "444":
        raise ValueError("12-bit arithmetic progressive is 4:4:4 only")
    ql, qc = _jpg_quant_tables(quality)
    coefs, samp, tqs, h, w = _jpg_quantized_coefs(
        arr, ql, qc, subsampling, precision, "ycbcr"
    )
    dac = _jpg_dac_seg(tqs, dc_cond, ac_kx, emit_dac)
    low, up = dc_cond
    nc = len(coefs)
    out = bytearray(
        b"\xff\xd8"
        + _jpg_dqt_seg(0, ql)
        + (_jpg_dqt_seg(1, qc) if nc > 1 else b"")
        + _jpg_seg(0xCA, _jpg_sof_payload(precision, h, w, [
            (ci + 1, hi, vi, t)
            for ci, ((hi, vi), t) in enumerate(zip(samp, tqs))
        ]))
        + dac
        + _jpg_dri_seg(restart_interval)
    )
    # the equiprobable bin (AC signs, DC refinement bits) never adapts
    fixed = bytearray([113])
    for kind, comp, Ss, Se, Ah, Al, segs in _jpg_prog_scans(
        coefs, samp, h, w, restart_interval
    ):
        # statistics zero per scan and per restart segment (G.2 / the
        # software realization: each scan touches only its own kind)
        if kind == "dc_first":
            def code(enc, seg):
                dc_stats = {t: bytearray(64) for t in tqs}
                dc_ctx = [0] * nc
                preds = [0] * nc
                for ci, by, bx in seg:
                    v = int(coefs[ci][by, bx, 0]) >> Al
                    _arith_dc_encode(
                        enc, dc_stats[tqs[ci]], dc_ctx, ci,
                        v - preds[ci], low, up,
                    )
                    preds[ci] = v
        elif kind == "dc_refine":
            def code(enc, seg):
                for ci, by, bx in seg:
                    enc.encode(fixed, 0, (int(coefs[ci][by, bx, 0]) >> Al) & 1)
        elif kind == "ac_first":
            def code(enc, seg):
                st = bytearray(256)
                for _, by, bx in seg:
                    _arith_ac_encode(
                        enc, st, fixed, ac_kx, coefs[comp][by, bx],
                        ss=Ss, se=Se, al=Al,
                    )
        else:
            def code(enc, seg):
                st = bytearray(256)
                for _, by, bx in seg:
                    _arith_ac_refine_encode(
                        enc, st, fixed, coefs[comp][by, bx], Ss, Se, Al
                    )
        sel = (
            [(ci + 1, t, 0) for ci, t in enumerate(tqs)]
            if comp is None else [(comp + 1, 0, tqs[comp])]
        )
        out += _jpg_seg(0xDA, _jpg_sos_payload(sel, Ss, Se, Ah, Al))
        out += _jpg_scan_entropy(segs, _QmEncoder, code)
    out += b"\xff\xd9"
    return bytes(out)


def synthetic_jpeg_hier_table(spark, n: int = 12) -> DataFrame:
    """Deterministic HIERARCHICAL JPEG table (T.81 Annex J, round
    12), media_id +1000, census fmt 'jpeg_hier'. Two sub-families:

    - i%4 in (0,1,2): EXP-LESS QUALITY hierarchies — every frame at
      the full dims, base at a deliberately COARSE quality
      (25 + (i%3)*10, visibly lossy), each differential SOF5 frame
      correcting the residual. On the 32x32 block-constant raster
      (tile (i*41 + by*9 + bx*17) mod 256) the residual is an
      integer constant per 8x8 block, so unit-step differential
      quantization reconstructs it EXACTLY and the pyramid output
      equals the raster bit-for-bit at ANY base quality — the
      differential VALUE path is oracle-verified with real nonzero
      corrections.
    - i%4 == 3: EXP pyramids (levels always 3 — two expansion
      steps) over a GLOBALLY CONSTANT raster ((i*41) mod 256):
      the J.1.1.2 interpolation of a constant is the constant, so
      the multi-resolution walk (DHP dims checks, per-frame grids,
      reference expansion) is oracle-verified too. (On non-constant
      rasters the boundary interpolation makes expansion pyramids
      inherently lossy — that path is pytest-verified with
      tolerance + an independent expansion-filter reference.)

    Rotation: levels 2+(i%2), gray-in-RGB color on i%4==2 and the
    constant rows with i>=8, restart intervals of 2 MCUs on i%3==0
    in EVERY frame. Round 13: ODD rows re-code the pyramid through
    the QM-coder (arith=True — SOF9 base + SOF13 differential
    frames); per-frame coefficients are identical, so pixels and
    the aux structure pin are layout-invariant and the fold is
    oracle-invisible while those rows gate on the arithmetic
    hierarchy walk. aux = frames*1000 + total RSTm across all
    frames — the pyramid-structure pin (a dropped or merged frame
    shifts aux even when pixels coincide)."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 64 + (i % 2) * 32, 32 + (i % 3) * 32
        exp_row = i % 4 == 3
        if exp_row:
            img = np.full((h, w), (i * 41) % 256, np.uint8)
        else:
            img = _tile_raster(
                lambda by, bx: (i * 41 + by * 9 + bx * 17) % 256,
                h // 32, w // 32, 32, 32,
            )
        color = (i % 4 == 2) or (exp_row and i >= 8)
        src = np.stack([img] * 3, axis=-1) if color else img
        rows.append(
            (
                1000 + i,
                encode_jpeg_hierarchical(
                    src,
                    quality=25 + (i % 3) * 10,
                    levels=3 if exp_row else 2 + (i % 2),
                    restart_interval=2 if i % 3 == 0 else 0,
                    expansion=exp_row,
                    arith=bool(i % 2),
                ),
                "hjpg",
            )
        )
    return _media_table(spark, "image", rows)


def jpeg_marker_summary(b: bytes):
    """Structural marker walk -> (progressive, n_scans, n_restarts,
    first_sof, hierarchical): ``first_sof`` is the first SOFn marker
    byte (0xC0..0xCF, None without one) and ``hierarchical`` whether
    a DHP marker comes before the first scan. Entropy segments are
    skipped with the stuffing/RST rules, so data bytes cannot
    false-positive as markers."""
    prog, n_scans, n_rst, first_sof, dhp = False, 0, 0, None, False
    for marker, _, scan in _jpg_segments(b):
        # SOF2 (Huffman) and SOF10 (arithmetic, round 13) are both
        # the progressive class — the census folds them into one
        # structural family
        prog = prog or marker in (0xC2, 0xCA)
        dhp = dhp or (marker == 0xDE and not n_scans)
        is_sof = 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC)
        if is_sof and first_sof is None:
            first_sof = marker
        if scan is not None:
            n_scans += 1
            n_rst += sum(
                1
                for k in range(scan.start, scan.stop - 1)
                if b[k] == 0xFF and 0xD0 <= b[k + 1] <= 0xD7
            )
    return prog, n_scans, n_rst, first_sof, dhp


# ---------------------------------------------------------------------------
# GIF (87a/89a, global or local color table, interlaced or not, full
# or partial frames composited onto the background-color canvas):
# pure-python LZW both directions — lossless, so round-trips are
# bit-exact and the decode oracle is closed-form like PNG's.
# Structural damage raises ValueError.
# ---------------------------------------------------------------------------


def _gif_lzw_compress(indices, code_size: int) -> bytes:
    """Variable-width LZW per the GIF spec (LSB-first packing,
    CLEAR emitted up front and on dictionary overflow at 4096)."""
    clear = 1 << code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    nxt = eoi + 1
    width = code_size + 1
    emit(clear, width)
    cur = ()
    for idx in indices:
        cand = cur + (int(idx),)
        if cand in table:
            cur = cand
            continue
        emit(table[cur], width)
        table[cand] = nxt
        nxt += 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        elif nxt >= 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            nxt = eoi + 1
            width = code_size + 1
        cur = (int(idx),)
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, code_size: int, n: int):
    """LZW decode -> list of ``n`` palette indices."""
    # spec bound is 2..8 (<=256 palette entries); 11 is the structural
    # ceiling (codes are at most 12 bits). Unvalidated, a corrupted
    # size byte makes the initial-table build below allocate 2^size
    # entries — a multi-second stall (or OOM) per corrupt file instead
    # of the documented ValueError
    if not 2 <= code_size <= 11:
        raise ValueError("GIF LZW minimum code size out of range")
    clear = 1 << code_size
    eoi = clear + 1
    table = [ (i,) for i in range(clear) ] + [(), ()]
    width = code_size + 1
    acc = 0
    nbits = 0
    pos = 0
    out = []
    prev = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [ (i,) for i in range(clear) ] + [(), ()]
            width = code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW bad first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + (entry[0],))
        elif code == len(table):
            entry = prev + (prev[0],)
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range")
        out.extend(entry)
        if len(out) > n:
            raise ValueError("GIF pixel overflow")
        if prev is not None and len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) != n:
        raise ValueError("GIF pixel count mismatch")
    return out


def _gif_interlace_order(h: int) -> list:
    """GIF interlace pass order (spec appendix E): rows are stored as
    passes 0::8, 4::8, 2::4, 1::2 of the output grid."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def encode_gif(
    arr,
    interlace: bool = False,
    local_table: bool = False,
    screen=None,
    offset=(0, 0),
    background=(0, 0, 0),
) -> bytes:
    """(h, w, 3) uint8 RGB with <= 256 distinct colors -> GIF89a
    bytes (one image). Deterministic: the palette is the sorted
    distinct color list. ``interlace`` stores rows in the four-pass
    interlace order with the image-descriptor flag set;
    ``local_table`` carries the palette as a LOCAL color table on the
    image descriptor instead of a global one on the screen
    descriptor. ``screen=(sw, sh)`` emits a PARTIAL frame: the image
    descriptor places ``arr`` at ``offset=(ox, oy)`` on a larger
    logical screen whose background-color byte names ``background``
    (added to the palette; spec: background resolves through the
    GLOBAL table, so partial frames require one)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "GIF encoder expects RGB"
    if interlace:
        a = a[_gif_interlace_order(h)]
    flat = a.reshape(-1, 3)
    if screen is not None:
        if local_table:
            raise ValueError(
                "partial-frame GIF needs a global color table for the "
                "background color"
            )
        sw, sh = screen
        ox, oy = offset
        if ox + w > sw or oy + h > sh:
            raise ValueError("GIF frame exceeds logical screen")
        flat = np.concatenate(
            [flat, np.asarray([background], dtype=np.uint8)]
        )
    packed = (
        flat[:, 0].astype(np.int64) * 65536
        + flat[:, 1].astype(np.int64) * 256
        + flat[:, 2].astype(np.int64)
    )
    colors = np.unique(packed)
    if colors.size > 256:
        raise ValueError("GIF encoder: more than 256 distinct colors")
    lut = {int(v): i for i, v in enumerate(colors)}
    if screen is not None:
        packed = packed[:-1]  # background joined only for the palette
    indices = np.array([lut[int(v)] for v in packed], dtype=np.int64)
    bits = max(1, int(colors.size - 1).bit_length())
    tbl_size = 1 << bits
    gct = bytearray()
    for v in colors:
        gct += bytes([(int(v) >> 16) & 0xFF, (int(v) >> 8) & 0xFF, int(v) & 0xFF])
    gct += b"\x00" * (3 * (tbl_size - colors.size))
    code_size = max(2, bits)
    lzw = _gif_lzw_compress(indices, code_size)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    scr_flags = 0 if local_table else 0x80 | (bits - 1)
    iflags = (0x80 | (bits - 1) if local_table else 0) | (
        0x40 if interlace else 0
    )
    if screen is not None:
        sw, sh = screen
        ox, oy = offset
        bgp = (
            int(background[0]) * 65536
            + int(background[1]) * 256
            + int(background[2])
        )
        bg_index = lut[bgp]
    else:
        sw, sh, ox, oy, bg_index = w, h, 0, 0, 0
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", sw, sh, scr_flags, bg_index, 0)
        + (b"" if local_table else bytes(gct))
        + b"\x2c"
        + struct.pack("<HHHHB", ox, oy, w, h, iflags)
        + (bytes(gct) if local_table else b"")
        + bytes([code_size])
        + bytes(blocks)
        + b"\x3b"
    )


def _gif_header(b: bytes):
    """Parse signature, screen descriptor, and global color table.
    Returns (w, h, bg_index, gct|None, pos)."""
    import numpy as np

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(b) < 13:
        raise ValueError("truncated GIF screen descriptor")
    w, h, flags, bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    if w * h > (1 << 24):
        # a flipped screen-dimension byte must not materialize a
        # multi-GB canvas OR index array: every frame rect is bounded
        # by the screen (checked before LZW decode), so guarding here
        # covers both decode_gif paths and decode_gif_frames before
        # any allocation derived from header dims
        raise ValueError("GIF screen implausibly large")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8)
        if gct.size != 3 * n:
            raise ValueError("truncated GIF color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    return w, h, bg, gct, pos


def _gif_image_block(b: bytes, pos: int, w: int, h: int, gct):
    """Parse one image descriptor + entropy data starting at the
    0x2C byte. Returns (pixels, indices, ix, iy, new_pos)."""
    import numpy as np

    if pos + 10 > len(b):
        raise ValueError("truncated GIF image descriptor")
    ix, iy, iw, ih, iflags = struct.unpack_from("<HHHHB", b, pos + 1)
    pos += 10
    act = gct
    if iflags & 0x80:  # local color table overrides the global one
        n = 2 << (iflags & 0x07)
        act = np.frombuffer(b[pos : pos + 3 * n], dtype=np.uint8)
        if act.size != 3 * n:
            raise ValueError("truncated GIF local color table")
        act = act.reshape(n, 3)
        pos += 3 * n
    if ix + iw > w or iy + ih > h:
        raise ValueError("GIF frame exceeds logical screen")
    if act is None:
        raise ValueError("GIF image without a color table")
    if pos >= len(b):
        raise ValueError("truncated GIF image block")
    code_size = b[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(b) and b[pos] != 0:
        ln = b[pos]
        chunk = b[pos + 1 : pos + 1 + ln]
        if len(chunk) != ln:
            raise ValueError("truncated GIF sub-block")
        lzw += chunk
        pos += 1 + ln
    pos += 1  # sub-block terminator
    indices = _gif_lzw_decompress(bytes(lzw), code_size, iw * ih)
    idx = np.array(indices, dtype=np.int64)
    if idx.max(initial=0) >= act.shape[0]:
        raise ValueError("GIF index outside color table")
    px = act[idx].reshape(ih, iw, 3)
    idx2 = idx.reshape(ih, iw)
    if iflags & 0x40:  # rows arrived in interlace pass order
        order = _gif_interlace_order(ih)
        out = np.empty_like(px)
        out[order] = px
        px = out
        oidx = np.empty_like(idx2)
        oidx[order] = idx2
        idx2 = oidx
    return px, idx2, ix, iy, pos


def decode_gif(b: bytes):
    """GIF bytes -> (h, w, 3) uint8 RGB (FIRST frame). Supports
    87a/89a with a global OR local color table, interlaced or not,
    full OR partial frames (a frame smaller than the logical screen
    is composited at its descriptor offset onto a canvas of the
    background color, resolved through the global table per spec
    section 18 — the layout animation frames use); extensions are
    skipped; damage raises ValueError. ``decode_gif_frames`` walks
    the whole animation."""
    import numpy as np

    w, h, _bg, gct, pos = _gif_header(b)
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:
            raise ValueError("GIF trailer before image data")
        if blk == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{blk:02X}")
        px, _idx, ix, iy, pos = _gif_image_block(b, pos, w, h, gct)
        ih, iw = px.shape[:2]
        if (ix, iy, iw, ih) == (0, 0, w, h):
            return px
        # partial frame: composite onto the background-color canvas
        # (spec 18: the background index resolves through the GLOBAL
        # color table)
        if gct is None:
            raise ValueError(
                "GIF partial frame without a global color table"
            )
        if _bg >= gct.shape[0]:
            raise ValueError("GIF background index outside color table")
        canvas = np.empty((h, w, 3), dtype=np.uint8)
        canvas[:, :] = gct[_bg]
        canvas[iy : iy + ih, ix : ix + iw] = px
        return canvas
    raise ValueError("GIF missing image data")


def decode_gif_frames(b: bytes):
    """GIF animation -> list of (h, w, 3) uint8 canvases, one
    RENDERED frame per image block: each frame composites onto the
    running canvas at its descriptor offset, honoring the Graphic
    Control Extension's transparency index (transparent pixels leave
    the canvas untouched) and disposal method (0/1 leave, 2 restore
    the background color over the frame rect, 3 restore the
    pre-frame canvas). The canvas starts as the background color
    resolved through the GLOBAL table. Damage raises ValueError."""
    import numpy as np

    w, h, bg, gct, pos = _gif_header(b)
    if gct is None:
        raise ValueError("GIF animation without a global color table")
    if bg >= gct.shape[0]:
        raise ValueError("GIF background index outside color table")
    canvas = np.empty((h, w, 3), dtype=np.uint8)
    canvas[:, :] = gct[bg]
    frames: list = []
    disposal, transparent = 0, None
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:
            break
        if blk == 0x21:
            label = b[pos + 1] if pos + 1 < len(b) else 0
            if label == 0xF9:
                # a malformed Graphic Control Extension must raise,
                # not fall through with stale disposal/transparency
                # state (silently dropped transparency renders wrong
                # pixels — against the structural-damage contract)
                if pos + 7 >= len(b) or b[pos + 2] != 4:
                    raise ValueError("GIF graphic control extension malformed")
                gce_flags = b[pos + 3]
                disposal = (gce_flags >> 2) & 0x07
                if disposal > 3:
                    raise ValueError("GIF disposal method out of range")
                transparent = b[pos + 6] if gce_flags & 1 else None
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{blk:02X}")
        px, idx, ix, iy, pos = _gif_image_block(b, pos, w, h, gct)
        ih, iw = px.shape[:2]
        before = canvas[iy : iy + ih, ix : ix + iw].copy()
        region = canvas[iy : iy + ih, ix : ix + iw]
        if transparent is not None:
            keep = idx == transparent
            region[:] = np.where(keep[..., None], region, px)
        else:
            region[:] = px
        frames.append(canvas.copy())
        if disposal == 2:
            canvas[iy : iy + ih, ix : ix + iw] = gct[bg]
        elif disposal == 3:
            canvas[iy : iy + ih, ix : ix + iw] = before
        disposal, transparent = 0, None  # GCE applies to ONE image
    if not frames:
        raise ValueError("GIF missing image data")
    return frames


def encode_gif_animation(
    frames,
    screen,
    background=(0, 0, 0),
) -> bytes:
    """Frame specs -> multi-frame GIF89a animation. ``frames`` is a
    list of (arr, (ox, oy), disposal, transparent_color|None): each
    (h, w, 3) uint8 frame lands at its offset, preceded by a Graphic
    Control Extension carrying the disposal method and (when a
    transparent color is named) the transparency flag + index. One
    GLOBAL color table carries the union of all frame colors plus
    the background (<= 256 total). Deterministic palette (sorted
    distinct colors)."""
    import numpy as np

    sw, sh = screen
    packs = []
    for arr, (ox, oy), _disp, _tr in frames:
        a = np.asarray(arr, dtype=np.uint8)
        h, w, c = a.shape
        assert c == 3, "GIF animation expects RGB frames"
        if ox + w > sw or oy + h > sh:
            raise ValueError("GIF frame exceeds logical screen")
        packs.append(
            a[..., 0].astype(np.int64) * 65536
            + a[..., 1].astype(np.int64) * 256
            + a[..., 2].astype(np.int64)
        )
    bgp = (
        int(background[0]) * 65536
        + int(background[1]) * 256
        + int(background[2])
    )
    all_colors = np.unique(
        np.concatenate([p.reshape(-1) for p in packs] + [np.array([bgp])])
    )
    if all_colors.size > 256:
        raise ValueError("GIF animation: more than 256 distinct colors")
    lut = {int(v): i for i, v in enumerate(all_colors)}
    bits = max(1, int(all_colors.size - 1).bit_length())
    tbl_size = 1 << bits
    gct = bytearray()
    for v in all_colors:
        gct += bytes(
            [(int(v) >> 16) & 0xFF, (int(v) >> 8) & 0xFF, int(v) & 0xFF]
        )
    gct += b"\x00" * (3 * (tbl_size - all_colors.size))
    code_size = max(2, bits)
    out = bytearray(
        b"GIF89a"
        + struct.pack("<HHBBB", sw, sh, 0x80 | (bits - 1), lut[bgp], 0)
        + bytes(gct)
    )
    for (arr, (ox, oy), disp, tr), packed in zip(frames, packs):
        a = np.asarray(arr, dtype=np.uint8)
        h, w = a.shape[:2]
        tr_idx = 0
        gce_flags = (disp & 0x07) << 2
        if tr is not None:
            trp = int(tr[0]) * 65536 + int(tr[1]) * 256 + int(tr[2])
            if trp not in lut:
                raise ValueError("transparent color not in any frame")
            tr_idx = lut[trp]
            gce_flags |= 1
        out += b"\x21\xf9\x04" + bytes([gce_flags, 0, 0, tr_idx, 0])
        indices = np.array(
            [lut[int(v)] for v in packed.reshape(-1)], dtype=np.int64
        )
        lzw = _gif_lzw_compress(indices, code_size)
        out += b"\x2c" + struct.pack("<HHHHB", ox, oy, w, h, 0)
        out += bytes([code_size])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


# ---------------------------------------------------------------------------
# Kernels
# ---------------------------------------------------------------------------


def decode_image_meta(df: DataFrame, fake: bool = False) -> DataFrame:
    """Image dimensions/format via mapInPandas — REAL decode for BMP
    and PPM; ``fake=True`` additionally accepts the header-only
    FAKEIMG layout. Undecodable payloads yield null columns, never
    task failures (corrupt files must not kill a 100 TB scan)."""

    def meta(content):
        px, fmt = _decode_any(content)
        if px is not None:
            h, w, c = px.shape
            return w, h, c, fmt
        if fake and bytes(content[:7]) == _MAGIC:
            w = int.from_bytes(bytes(content[7:9]), "big")
            h = int.from_bytes(bytes(content[9:11]), "big")
            return w, h, int(content[11]), "fakeimg"
        return None

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, width int, height int, channels int, format string",
        meta,
    )


def resize_images(df: DataFrame, target: tuple[int, int]) -> DataFrame:
    """Nearest-neighbor resize to (width, height), re-encoded as BMP —
    real numpy index-sampling for BMP/PPM payloads."""
    import numpy as np

    tw, th = target

    def resize(content):
        px, _ = _decode_any(content)
        if px is not None:
            h, w, _c = px.shape
            iy = (np.arange(th) * h) // th
            ix = (np.arange(tw) * w) // tw
            return (encode_bmp(px[iy][:, ix]),)
        return None

    return _map_media(
        df.select("media_id", "content"), "media_id long, content binary", resize
    )


def image_features(df: DataFrame) -> DataFrame:
    """Per-channel mean + luminance mean/std — real numpy feature
    extraction over decoded pixels (the 'feature-extract' stage of a
    multimodal training pipeline). Scalars cross back to the JVM;
    pixels never leave the kernel."""
    import numpy as np

    def features(content):
        px, fmt = _decode_any(content)
        if px is None:
            return None
        f = px.astype(np.float64)
        lum = f @ np.array([0.2126, 0.7152, 0.0722])
        return (
            fmt,
            float(f[..., 0].mean()),
            float(f[..., 1].mean()),
            float(f[..., 2].mean()),
            float(lum.mean()),
            float(lum.std()),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, format string, mean_r double, mean_g double, "
        "mean_b double, luma_mean double, luma_std double",
        features,
    )


# ---------------------------------------------------------------------------
# Audio: WAV PCM (pure struct/numpy, like BMP)
# ---------------------------------------------------------------------------


def encode_wav(samples, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, channels) int16 array -> PCM WAV bytes."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int16)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    return _wav_container(a.tobytes(), 1, ch, sample_rate, 16)


# KSDATAFORMAT media-subtype GUID tail: {code}-0000-0010-8000-
# 00AA00389B71 serialized little-endian — bytes 2..15 are fixed for
# every registered WAVE_FORMAT_EXTENSIBLE subtype
_WAV_SUBTYPE_SUFFIX = bytes.fromhex("0000" + "0000" + "1000" + "800000aa00389b71")


def _wav_container(data: bytes, fmt_code: int, ch: int, sample_rate: int,
                   bits: int) -> bytes:
    """RIFF/WAVE wrapper for an already-serialized sample payload."""
    bytes_per = bits // 8
    byte_rate = sample_rate * ch * bytes_per
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, fmt_code, ch, sample_rate, byte_rate,
            ch * bytes_per, bits,
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav_pcm8(samples, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, ch) unsigned bytes (0..255, offset-binary per the
    WAV spec for <=8-bit widths) -> 8-bit PCM WAV."""
    import numpy as np

    a = np.asarray(samples, dtype=np.uint8)
    if a.ndim == 1:
        a = a[:, None]
    return _wav_container(a.tobytes(), 1, a.shape[1], sample_rate, 8)


def encode_wav_pcm24(samples, sample_rate: int = 16000,
                     extensible: bool = False) -> bytes:
    """(n,) or (n, ch) ints in ±2^23 -> 24-bit PCM WAV (little-endian
    3-byte two's-complement samples). ``extensible`` wraps the same
    payload in a WAVE_FORMAT_EXTENSIBLE fmt chunk (code 0xFFFE +
    PCM SubFormat GUID) — how most real 24-bit files ship."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int32)
    if a.ndim == 1:
        a = a[:, None]
    if a.size and (int(a.max()) > 0x7FFFFF or int(a.min()) < -0x800000):
        raise ValueError("24-bit PCM sample out of range")
    u = (a.astype(np.int64) & 0xFFFFFF).astype(np.uint32).reshape(-1)
    tri = np.empty((u.size, 3), dtype=np.uint8)
    tri[:, 0] = u & 0xFF
    tri[:, 1] = (u >> 8) & 0xFF
    tri[:, 2] = (u >> 16) & 0xFF
    if not extensible:
        return _wav_container(tri.tobytes(), 1, a.shape[1], sample_rate, 24)
    return _wav_container_extensible(
        tri.tobytes(), 1, a.shape[1], sample_rate, 24
    )


def _wav_container_extensible(data: bytes, sub_code: int, ch: int,
                              sample_rate: int, bits: int) -> bytes:
    """RIFF wrapper with a 40-byte WAVE_FORMAT_EXTENSIBLE fmt chunk:
    container code 0xFFFE, cbSize 22, validBits = bits, and the
    effective format as the SubFormat GUID's leading two bytes."""
    bytes_per = bits // 8
    byte_rate = sample_rate * ch * bytes_per
    guid = struct.pack("<H", sub_code) + _WAV_SUBTYPE_SUFFIX
    fmt_body = (
        struct.pack(
            "<HHIIHH", 0xFFFE, ch, sample_rate, byte_rate,
            ch * bytes_per, bits,
        )
        + struct.pack("<HHI", 22, bits, (1 << ch) - 1)
        + guid
    )
    return (
        b"RIFF"
        + struct.pack("<I", 20 + len(fmt_body) + len(data))
        + b"WAVEfmt "
        + struct.pack("<I", len(fmt_body))
        + fmt_body
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def encode_wav_pcm32(samples, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, ch) int32 -> 32-bit integer PCM WAV."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int32)
    if a.ndim == 1:
        a = a[:, None]
    return _wav_container(a.tobytes(), 1, a.shape[1], sample_rate, 32)


def _encode_wav_float(samples, sample_rate: int, dtype) -> bytes:
    """Shared IEEE-float WAV emitter (format code 3, with the fact
    chunk format-3 files carry in the wild — the decoder's chunk
    walk must skip it); float32/float64 differ only in dtype."""
    import numpy as np

    a = np.asarray(samples, dtype=dtype)
    if a.ndim == 1:
        a = a[:, None]
    data = a.tobytes()
    fact = b"fact" + struct.pack("<II", 4, a.shape[0])
    bytes_per = a.dtype.itemsize
    byte_rate = sample_rate * a.shape[1] * bytes_per
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(fact) + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 3, a.shape[1], sample_rate, byte_rate,
            a.shape[1] * bytes_per, 8 * bytes_per,
        )
        + fact
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav_float32(samples, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, ch) floats in [-1, 1] -> IEEE float32 WAV (format
    code 3, with the format-3 fact chunk)."""
    import numpy as np

    return _encode_wav_float(samples, sample_rate, np.float32)


def encode_wav_float64(samples, sample_rate: int = 16000) -> bytes:
    """(n,) or (n, ch) floats in [-1, 1] -> IEEE float64 WAV (format
    code 3, bits 64, with the format-3 fact chunk)."""
    import numpy as np

    return _encode_wav_float(samples, sample_rate, np.float64)


def decode_wav(b: bytes):
    """PCM WAV bytes -> ((n, channels) sample array, sample_rate).
    Sample dtype conveys source width: int16 for 8/16-bit PCM (8-bit
    unsigned bytes are re-centered to the int16 scale, ``(u-128)*256``),
    int32 holding raw values for 24- and 32-bit integer PCM, float32
    for IEEE format-3. WAVE_FORMAT_EXTENSIBLE (0xFFFE) containers
    resolve their effective format from the SubFormat GUID. Walks RIFF
    chunks, so extra chunks (LIST, fact) don't break it."""
    samples, rate, _fmt, _bits = _decode_wav_full(b)
    return samples, rate


def _decode_wav_full(b: bytes):
    """decode_wav plus the container's (fmt_code, bits) — the variant
    metadata feature kernels surface without re-parsing the header.
    fmt_code is the CONTAINER code (0xFFFE for extensible files, the
    plain format code otherwise); bits plus the sample dtype convey
    the decoded width."""
    import numpy as np

    if b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC"):
        return _decode_aiff(b)
    if b[:4] == b".snd":
        return _decode_au(b)
    if b[:4] in (b"fLaC", b"OggS"):
        # FLAC rides the same audio-kernel entry point: sample dtype
        # follows the WAV conventions (int16 scale for 8/16-bit —
        # 8-bit scales by 256 like PCM8 — raw int32 for 24-bit) so
        # every downstream normalization path is width-consistent
        samples, rate, bits = decode_flac(b)
        if bits == 16:
            return samples.astype(np.int16), rate, _FLAC_FMT_CODE, bits
        if bits == 8:
            return (samples.astype(np.int16) * 256), rate, \
                _FLAC_FMT_CODE, bits
        return samples, rate, _FLAC_FMT_CODE, bits
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, ch, rate, _br, _ba, bits = fmt
    if ch < 1 or rate < 1:
        raise ValueError("WAV invalid channel count or sample rate")
    fmt_code = audio_fmt  # the CONTAINER code callers observe
    if audio_fmt == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE (how >16-bit files usually ship in
        # the wild): the effective format is the first two bytes of
        # the 16-byte SubFormat GUID, whose 14-byte tail must be the
        # fixed KSDATAFORMAT media-subtype suffix
        if len(fmt_body) < 40:
            raise ValueError("WAV extensible fmt chunk truncated")
        cb, valid_bits = struct.unpack_from("<HH", fmt_body, 16)
        if cb < 22:
            raise ValueError("WAV extensible cbSize too small")
        sub = fmt_body[24:40]
        if sub[2:] != _WAV_SUBTYPE_SUFFIX:
            raise ValueError("WAV extensible SubFormat GUID unrecognized")
        if valid_bits > bits:
            raise ValueError("WAV extensible validBits exceeds container")
        # valid_bits < bits (e.g. 20 valid of 24) is metadata: the spec
        # left-justifies samples in the container width, so decoding at
        # container width is exact — the low bits are simply zero
        audio_fmt = struct.unpack_from("<H", sub, 0)[0]
    if audio_fmt == 1 and bits == 16:
        samples = np.frombuffer(
            data, np.int16, count=(len(data) // (2 * ch)) * ch
        )
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 1 and bits == 8:
        # unsigned 8-bit PCM (spec: <=8-bit samples are offset-binary);
        # re-center to the int16 scale so every integer path downstream
        # shares one normalization: value = (byte - 128) * 256
        u = np.frombuffer(data, np.uint8, count=(len(data) // ch) * ch)
        samples = (u.astype(np.int16) - 128) * 256
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 1 and bits == 24:
        # little-endian 3-byte signed ints -> raw ±2^23 values in int32
        # (no rescale: 24-bit is the one width int16 can't carry)
        n = (len(data) // (3 * ch)) * ch
        tri = np.frombuffer(data, np.uint8, count=3 * n).reshape(n, 3)
        v = (
            tri[:, 0].astype(np.int32)
            | (tri[:, 1].astype(np.int32) << 8)
            | (tri[:, 2].astype(np.int32) << 16)
        )
        samples = np.where(v >= 1 << 23, v - (1 << 24), v).astype(np.int32)
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 1 and bits == 32:
        # 32-bit integer PCM: raw int32 values (DAW-export width)
        samples = np.frombuffer(
            data, np.int32, count=(len(data) // (4 * ch)) * ch
        )
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 3 and bits == 32:
        # IEEE float32 (format 3): native [-1, 1] floats, returned
        # as-is — corrupt payload bytes may carry NaN/inf, which is a
        # value question for kernels, not a decode error
        samples = np.frombuffer(
            data, np.float32, count=(len(data) // (4 * ch)) * ch
        )
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 3 and bits == 64:
        # IEEE float64 (rare but pure-numpy decodable; same value
        # semantics as float32)
        samples = np.frombuffer(
            data, np.float64, count=(len(data) // (8 * ch)) * ch
        )
        return samples.reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt in (6, 7) and bits == 8:  # G.711 A-law / mu-law
        codes = np.frombuffer(data, np.uint8, count=(len(data) // ch) * ch)
        dec = (alaw_expand if audio_fmt == 6 else ulaw_expand)(codes)
        return dec.astype(np.int16).reshape(-1, ch), rate, fmt_code, bits
    if audio_fmt == 0x11 and bits == 4:  # IMA ADPCM
        if ch == 1:
            out: list[int] = []
            ba = _ba if _ba >= 5 else len(data)
            for off in range(0, len(data), ba):
                blk = data[off : off + ba]
                if len(blk) < 5:
                    break
                pred, idx, _res = struct.unpack_from("<hBB", blk, 0)
                if idx > 88:
                    raise ValueError("IMA ADPCM step index out of range")
                nb = np.frombuffer(blk[4:], np.uint8)
                nibbles = np.empty(nb.size * 2, np.uint8)
                nibbles[0::2] = nb & 0x0F
                nibbles[1::2] = nb >> 4
                out.extend(ima_adpcm_decode(nibbles, pred, idx))
            return np.array(out, np.int16).reshape(-1, 1), rate, fmt_code, bits
        if ch >= 2:
            # multi-channel layout (Microsoft WAV spec, any channel
            # count): one 4-byte block header PER channel, then 4-byte
            # nibble groups cycling channel 0..ch-1 — 8 samples per
            # group, one independent state machine per channel
            outs: list[list[int]] = [[] for _ in range(ch)]
            ba = _ba if _ba >= 4 * ch + 1 else len(data)
            for off in range(0, len(data), ba):
                blk = data[off : off + ba]
                if len(blk) < 4 * ch + 1:
                    break
                preds: list[int] = []
                idxs: list[int] = []
                for c in range(ch):
                    pred, idx, _res = struct.unpack_from("<hBB", blk, 4 * c)
                    if idx > 88:
                        raise ValueError("IMA ADPCM step index out of range")
                    preds.append(pred)
                    idxs.append(idx)
                    outs[c].append(pred)
                body = blk[4 * ch :]
                for goff in range(0, len(body) - (len(body) % 4), 4):
                    c = (goff // 4) % ch
                    grp = np.frombuffer(body[goff : goff + 4], np.uint8)
                    nibbles = np.empty(8, np.uint8)
                    nibbles[0::2] = grp & 0x0F
                    nibbles[1::2] = grp >> 4
                    for nib in nibbles:
                        preds[c], idxs[c] = ima_adpcm_step(
                            preds[c], idxs[c], int(nib)
                        )
                        outs[c].append(preds[c])
            n = min(len(o) for o in outs)
            return (
                np.stack(
                    [np.array(o[:n], np.int16) for o in outs], axis=1
                ),
                rate,
                fmt_code,
                bits,
            )
        raise ValueError(f"invalid IMA ADPCM channel count {ch}")
    if audio_fmt == 2 and bits == 4:  # MS ADPCM (WAVE_FORMAT_ADPCM)
        # fmt-chunk extension: cbSize >= 2 carries wSamplesPerBlock
        # (the final block of real files is usually short — decoded
        # samples past it are padding, not audio); cbSize >= 4 adds
        # wNumCoef and the int16 coefficient pairs. Files that omit
        # the table get the seven standard pairs.
        coefs = list(_MS_COEFS)
        spb = 0
        if len(fmt_body) >= 20:
            (cb,) = struct.unpack_from("<H", fmt_body, 16)
            if cb >= 2:
                (spb,) = struct.unpack_from("<H", fmt_body, 18)
            if cb >= 4 and len(fmt_body) >= 22:
                (ncoef,) = struct.unpack_from("<H", fmt_body, 20)
                if ncoef:
                    if len(fmt_body) < 22 + 4 * ncoef:
                        raise ValueError("MS ADPCM coef table truncated")
                    coefs = [
                        struct.unpack_from("<hh", fmt_body, 22 + 4 * k)
                        for k in range(ncoef)
                    ]
        ba = _ba if _ba >= 7 * ch + 1 else len(data)
        outs: list[list[int]] = [[] for _ in range(ch)]
        for off in range(0, len(data), ba):
            blk = data[off : off + ba]
            if len(blk) < 7 * ch:
                break
            preds = []
            for c in range(ch):
                pi = blk[c]
                if pi >= len(coefs):
                    raise ValueError(
                        "MS ADPCM predictor index out of range"
                    )
                preds.append(pi)
            deltas = [
                struct.unpack_from("<h", blk, ch + 2 * c)[0]
                for c in range(ch)
            ]
            s1 = [
                struct.unpack_from("<h", blk, 3 * ch + 2 * c)[0]
                for c in range(ch)
            ]
            s2 = [
                struct.unpack_from("<h", blk, 5 * ch + 2 * c)[0]
                for c in range(ch)
            ]
            starts = [len(outs[c]) for c in range(ch)]
            for c in range(ch):
                outs[c] += [s2[c], s1[c]]
            nb = np.frombuffer(blk[7 * ch :], np.uint8)
            nibs = np.empty(nb.size * 2, np.uint8)
            nibs[0::2] = nb >> 4  # HIGH nibble first (MS layout)
            nibs[1::2] = nb & 0x0F
            state = [(s1[c], s2[c], deltas[c]) for c in range(ch)]
            for j in range(nibs.size):
                c = j % ch
                if spb and len(outs[c]) - starts[c] >= spb:
                    continue  # past wSamplesPerBlock: pad nibbles
                a, prev, d = state[c]
                c1, c2 = coefs[preds[c]]
                samp, nd = ms_adpcm_step(a, prev, d, c1, c2, int(nibs[j]))
                state[c] = (samp, a, nd)
                outs[c].append(samp)
        n = min(len(o) for o in outs)
        return (
            np.stack([np.array(o[:n], np.int16) for o in outs], axis=1),
            rate,
            fmt_code,
            bits,
        )
    if audio_fmt == 0:
        # WAVE_FORMAT_UNKNOWN is definitionally invalid, not a codec
        # this container lacks — corrupt header, raise the documented
        # type instead of the honest gate
        raise ValueError("WAV format code 0 is invalid")
    require_codec(f"WAV format={audio_fmt} bits={bits}")


def ulaw_expand(codes):
    """G.711 mu-law 8-bit codes -> 16-bit linear (CCITT reference
    expansion: complement, 4-bit mantissa + 132 bias shifted by the
    3-bit segment; range +/-32124). Pure integer — an independent
    engine reproduces it with the same bit arithmetic."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where((u & 0x80) != 0, 0x84 - t, t - 0x84)


def alaw_expand(codes):
    """G.711 A-law 8-bit codes -> 16-bit linear (CCITT reference:
    XOR 0x55, segment 0/1 add the half-step bias, higher segments
    shift; sign bit SET means positive; range +/-32256)."""
    import numpy as np

    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    mant = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(
        seg == 0,
        mant + 8,
        np.where(seg == 1, mant + 0x108, (mant + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where((a & 0x80) != 0, t, -t)


# ---------------------------------------------------------------------------
# IMA ADPCM (WAV format 0x11, mono or stereo): 4-bit differential
# codes with the canonical 89-entry step table — a genuinely
# SEQUENTIAL decoder (predictor/step-index state advances per
# sample), which the q169/q183 oracles reproduce with recursive CTEs
# stepping the same state machines in SQL. Stereo interleaves 4-byte
# nibble groups per channel; >2 channels gate via require_codec.
# ---------------------------------------------------------------------------

_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_step(pred: int, idx: int, code: int):
    """One IMA ADPCM state transition: returns (new_pred, new_idx).
    Pure integer — the exact arithmetic the q169 recursive-CTE oracle
    replays in SQL."""
    step = _IMA_STEP[idx]
    diff = step >> 3
    if code & 4:
        diff += step
    if code & 2:
        diff += step >> 1
    if code & 1:
        diff += step >> 2
    pred = pred - diff if code & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[code & 7]))
    return pred, idx


def ima_adpcm_decode(nibbles, init_pred: int, init_idx: int):
    """Decode a mono IMA ADPCM nibble sequence. Returns the int16
    sample list [init_pred, s_1, ..., s_n] (the block-header sample
    followed by one sample per code)."""
    pred, idx = int(init_pred), int(init_idx)
    out = [pred]
    for code in nibbles:
        pred, idx = ima_adpcm_step(pred, idx, int(code) & 0x0F)
        out.append(pred)
    return out


# ---------------------------------------------------------------------------
# MS ADPCM (WAV format 2): 4-bit codes over a 2-tap linear predictor
# with per-block coefficient selection and an adaptive delta — the
# OTHER classic WAV ADPCM. Arithmetic follows the Microsoft
# reference / ffmpeg C semantics: integer division TRUNCATES toward
# zero (the q169 recursive-CTE oracle replays it with DuckDB's //,
# which truncates the same way).
# ---------------------------------------------------------------------------

_MS_ADAPT = [
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
]
_MS_COEFS = [
    (256, 0), (512, -256), (0, 64), (192, 64),
    (240, 0), (460, -208), (392, -232),
]

# corpus nibble bias (q169): mostly factor-230 codes with periodic
# 307/409/512 bumps so the adaptive delta stays at signal scale the
# way real encoder output does (an unbiased uniform nibble stream
# multiplies delta ~96x every 16 samples and diverges)
_MS_NIB_BIAS = [0, 1, 2, 3, 15, 14, 13, 4, 0, 1, 2, 3, 15, 14, 13, 5]


def _trunc_div(x: int, d: int) -> int:
    """C-style integer division (truncate toward zero) — Python //
    floors, which diverges on negative numerators."""
    return x // d if x >= 0 else -((-x) // d)


def ms_adpcm_step(s1: int, s2: int, delta: int, c1: int, c2: int,
                  nib: int):
    """One MS ADPCM transition: returns (new_sample, new_delta).
    Prediction (s1*c1 + s2*c2)/256 truncates toward zero; the nibble
    is a signed 4-bit value scaling the current delta; the next
    delta adapts by table lookup with a floor of 16. A delta past
    2^23 means the adaptation diverged — legal encoders keep it at
    signal scale (the header field is int16), so runaway growth is
    corrupt data (the ffmpeg idelta-overflow check), raised loudly
    before it can overflow downstream int64 accumulators."""
    if delta > 1 << 23:
        raise ValueError("MS ADPCM delta diverged (corrupt stream)")
    pred = _trunc_div(s1 * c1 + s2 * c2, 256)
    signed = nib - 16 if nib & 8 else nib
    samp = max(-32768, min(32767, pred + signed * delta))
    nd = max(16, _trunc_div(_MS_ADAPT[nib & 0x0F] * delta, 256))
    return samp, nd


def _ms_fmt_chunk(ch: int, sample_rate: int, block_align: int,
                  samples_per_block: int) -> bytes:
    ext = struct.pack("<HH", samples_per_block, len(_MS_COEFS))
    for c1, c2 in _MS_COEFS:
        ext += struct.pack("<hh", c1, c2)
    return (
        b"fmt "
        + struct.pack("<I", 18 + len(ext))
        + struct.pack(
            "<HHIIHH", 2, ch, sample_rate, sample_rate, block_align, 4
        )
        + struct.pack("<H", len(ext))
        + ext
    )


def encode_wav_ms_adpcm(nibbles, pred_idx: int, delta0: int, s1: int,
                        s2: int, sample_rate: int = 8000) -> bytes:
    """Mono single-block MS ADPCM WAV: 7-byte block header
    (predictor index, initial delta int16, sample1, sample2) +
    packed nibbles (HIGH nibble first), with the standard 7-pair
    coefficient table in the fmt-chunk extension."""
    import numpy as np

    nb = np.asarray(nibbles, dtype=np.uint8) & 0x0F
    # an odd code count would need a pad nibble that decoders could
    # mistake for a sample; wSamplesPerBlock disambiguates, but the
    # single-block writer just requires byte-aligned streams
    assert nb.size % 2 == 0, "MS ADPCM nibble stream must be even-length"
    packed = ((nb[0::2] << 4) | nb[1::2]).astype(np.uint8).tobytes()
    data = struct.pack("<Bhhh", pred_idx, delta0, s1, s2) + packed
    fmt = _ms_fmt_chunk(1, sample_rate, len(data), nb.size + 2)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 4 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav_ms_adpcm_stereo(nib_l, nib_r, init_l: tuple,
                               init_r: tuple) -> bytes:
    """Stereo single-block 8 kHz MS ADPCM WAV (Microsoft layout): header
    fields interleave per channel — predictor indices, then initial
    deltas, then sample1s, then sample2s — and each data byte packs
    (left nibble high, right nibble low). ``init_*`` =
    (pred_idx, delta0, s1, s2). Streams must be equal length."""
    import numpy as np

    nl = np.asarray(nib_l, dtype=np.uint8) & 0x0F
    nr = np.asarray(nib_r, dtype=np.uint8) & 0x0F
    assert nl.size == nr.size, "MS ADPCM stereo streams must match"
    packed = ((nl << 4) | nr).astype(np.uint8).tobytes()
    heads = (
        struct.pack("<BB", init_l[0], init_r[0])
        + struct.pack("<hh", init_l[1], init_r[1])
        + struct.pack("<hh", init_l[2], init_r[2])
        + struct.pack("<hh", init_l[3], init_r[3])
    )
    data = heads + packed
    fmt = _ms_fmt_chunk(2, 8000, len(data), nl.size + 2)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 4 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav_ima(nibbles, init_pred: int, init_idx: int,
                   sample_rate: int = 8000) -> bytes:
    """Mono single-block IMA ADPCM WAV: 4-byte block header
    (predictor int16, step index, reserved) + packed nibbles (low
    nibble first)."""
    import numpy as np

    nb = np.asarray(nibbles, dtype=np.uint8) & 0x0F
    if nb.size % 2:
        nb = np.concatenate([nb, np.zeros(1, np.uint8)])
    packed = (nb[0::2] | (nb[1::2] << 4)).astype(np.uint8).tobytes()
    block_align = 4 + len(packed)
    data = struct.pack("<hBB", init_pred, init_idx, 0) + packed
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH", 16, 0x11, 1, sample_rate, sample_rate, block_align, 4
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def encode_wav_ima_stereo(
    nib_l,
    nib_r,
    init_l: tuple,
    init_r: tuple,
) -> bytes:
    """Stereo single-block IMA ADPCM WAV: two 4-byte channel headers
    (predictor int16, step index, reserved — left then right) followed
    by 4-byte nibble groups alternating channels starting left.
    Nibble streams must be equal length and a multiple of 8 (one
    group = 8 samples)."""
    return encode_wav_ima_multi([nib_l, nib_r], [init_l, init_r])


def encode_wav_ima_multi(nib_streams, inits) -> bytes:
    """N-channel single-block 8 kHz IMA ADPCM WAV (Microsoft layout, any
    channel count): one 4-byte header per channel (predictor int16,
    step index, reserved), then 4-byte nibble groups cycling channel
    0..N-1. Streams must be equal length and a multiple of 8 (one
    group = 8 samples)."""
    import numpy as np

    ch = len(nib_streams)
    assert ch >= 1 and len(inits) == ch
    streams = [np.asarray(s, dtype=np.uint8) & 0x0F for s in nib_streams]
    assert all(
        s.size == streams[0].size and s.size % 8 == 0 for s in streams
    ), "IMA streams must be equal length, multiple of 8"

    def pack4(nibbles):
        return bytes((nibbles[0::2] | (nibbles[1::2] << 4)).astype(np.uint8))

    body = bytearray()
    for g in range(streams[0].size // 8):
        for s in streams:
            body += pack4(s[8 * g : 8 * g + 8])
    heads = b"".join(
        struct.pack("<hBB", init[0], init[1], 0) for init in inits
    )
    data = heads + bytes(body)
    block_align = len(data)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack(
            "<IHHIIHH",
            16, 0x11, ch, 8000, 8000, block_align, 4,
        )
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def synthetic_ima_stereo_table(spark, n: int = 24) -> DataFrame:
    """Deterministic STEREO IMA ADPCM clips: channel-distinct nibble
    streams (left ``(i*7 + t*5) % 16``, right ``(i*11 + t*3 + 8) %
    16``) from channel-distinct initial states — the q183 oracle
    replays both state machines with one channel-dimensioned
    recursive CTE."""
    import numpy as np

    rows = []
    for i in range(n):
        ns = 160 + (i % 3) * 32
        t = np.arange(ns, dtype=np.int64)
        nl = ((i * 7 + t * 5) % 16).astype(np.uint8)
        nr = ((i * 11 + t * 3 + 8) % 16).astype(np.uint8)
        content = encode_wav_ima_stereo(
            nl,
            nr,
            (((i * 53) % 1800) - 900, (i * 3) % 89),
            (((i * 29) % 1600) - 800, (i * 5 + 7) % 89),
        )
        rows.append((i, content, "st.wav"))
    return _media_table(spark, "audio", rows)


def audio_stereo_stats(df: DataFrame) -> DataFrame:
    """Integer-exact per-clip STEREO statistics: frame count, per-
    channel linear and square sums, the cross-channel product sum
    (breaks if the decoder swaps or desynchronizes channels even when
    per-channel sums survive), and joint peak magnitude."""
    import numpy as np

    def stats(content):
        try:
            samples, _rate = decode_wav(bytes(content))
        except (ValueError, NotImplementedError, struct.error, IndexError):
            return None
        if samples.shape[1] != 2:
            return None
        sl = _exact_int_samples(samples[:, 0])
        sr = _exact_int_samples(samples[:, 1])
        if sl is None or sr is None:
            return None
        return (
            int(sl.size),
            int(sl.sum()),
            int(sr.sum()),
            _exact_dot(sl, sl),
            _exact_dot(sr, sr),
            _exact_dot(sl, sr),
            int(max(np.abs(sl).max(initial=0), np.abs(sr).max(initial=0))),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_frames long, sum_left long, sum_right long, "
        "sumsq_left long, sumsq_right long, cross_sum long, peak long",
        stats,
    )


def encode_wav_g711(codes, law: str = "ulaw", sample_rate: int = 8000) -> bytes:
    """(n,) uint8 G.711 code array -> WAV bytes (format 7 = mu-law,
    6 = A-law; 8 bits, mono) — the telephony container layout."""
    import numpy as np

    a = np.asarray(codes, dtype=np.uint8)
    return _wav_container(a.tobytes(), 7 if law == "ulaw" else 6, 1,
                          sample_rate, 8)


def synthetic_g711_table(spark, n: int = 40) -> DataFrame:
    """Deterministic G.711 telephony clips: clip i holds
    ``400 + (i % 5) * 40`` code bytes ``(i * 13 + t * 7) % 256``,
    mu-law for even i, A-law for odd — the q166 oracle recomputes the
    CCITT expansion from the same closed form. Clips with i%4 in
    (2, 3) (round 9) ship the SAME code bytes in a Sun/NeXT .au
    container instead of WAV (encoding 1 on the even/mu-law rows,
    27 on the odd/A-law rows), and clips with i%8 in (4, 5)
    (round 10) in an AIFC container with compression type
    'ulaw'/'alaw' — all three containers decode identically, so the
    container rotation is oracle-invisible but a broken .au header
    walk, AIFC compression-type map, or encoding map fails those
    rows."""
    import numpy as np

    rows = []
    for i in range(n):
        ns = 400 + (i % 5) * 40
        codes = ((i * 13 + np.arange(ns, dtype=np.int64) * 7) % 256).astype(
            np.uint8
        )
        law = "ulaw" if i % 2 == 0 else "alaw"
        if i % 4 in (2, 3):
            content = encode_au(codes, 1 if law == "ulaw" else 27, 8000)
            ext = f"{law}.au"
        elif i % 8 in (4, 5):
            content = encode_aiff(codes, 8000, ctype=law.encode())
            ext = f"{law}.aifc"
        else:
            content = encode_wav_g711(codes, law)
            ext = f"{law}.wav"
        rows.append((i, content, ext))
    return _media_table(spark, "audio", rows)


_AIFF_FMT_CODE = 0xA1FF  # sentinel fmt_code for AIFF/AIFC containers
_IMA4_FMT_CODE = 0xA1F4  # sentinel fmt_code for AIFC 'ima4' payloads


def _ieee754_extended_pack(v: float) -> bytes:
    """Positive number -> 80-bit IEEE 754 extended (sign 1, exponent
    15, explicit-leading-bit mantissa 64) — the AIFF COMM sample-rate
    field."""
    import math

    if v <= 0:
        raise ValueError("extended-float pack expects a positive rate")
    m, e = math.frexp(v)  # v = m * 2^e, m in [0.5, 1)
    exponent = e + 16382
    mantissa = int(m * (1 << 64))
    return struct.pack(">HQ", exponent, mantissa)


def _ieee754_extended_unpack(b: bytes) -> float:
    if len(b) != 10:
        raise ValueError("extended float needs 10 bytes")
    exponent, mantissa = struct.unpack(">HQ", b)
    if exponent & 0x8000:
        raise ValueError("negative AIFF sample rate")
    if exponent == 0 and mantissa == 0:
        return 0.0
    if exponent == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    if not 16383 - 64 <= exponent <= 16383 + 40:
        # a sane sample rate fits in a few dozen binary orders; a
        # corrupt exponent must not overflow the float pow
        raise ValueError("AIFF sample-rate exponent out of range")
    return mantissa * 2.0 ** (exponent - 16383 - 63)


def _aifc_container(ctype: bytes, ch: int, n: int, bits: int,
                    sample_rate: int, ssnd: bytes) -> bytes:
    """Assemble an AIFC FORM around a compressed/float SSND payload:
    FVER + COMM (with compression type and empty padded pstring
    name) + SSND."""
    comm = struct.pack(">hIh", ch, n, bits) + \
        _ieee754_extended_pack(float(sample_rate)) + ctype + b"\x00\x00"
    ssnd_body = struct.pack(">II", 0, 0) + ssnd
    chunks = b"FVER" + struct.pack(">II", 4, 0xA2805140)
    for cid, body in ((b"COMM", comm), (b"SSND", ssnd_body)):
        chunks += cid + struct.pack(">I", len(body)) + body
        if len(body) % 2:
            chunks += b"\x00"
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + b"AIFC" + \
        chunks


def encode_aiff(samples, sample_rate: int = 16000, bits: int = 16,
                sowt: bool = False, ima4: bool = False,
                ctype: bytes | None = None) -> bytes:
    """Mono/stereo int array -> AIFF (big-endian PCM) or, with
    ``sowt``, AIFC with the little-endian 'sowt' compression type —
    the two layouts Mac-origin corpora actually ship. ``ima4``
    produces AIFC with Apple's QuickTime IMA 4:1 compression
    (34-byte packets, per-channel interleaved, state carried across
    packets through the truncated preamble). ``ctype`` selects the
    round-10 AIFC variants directly: b'fl32'/b'fl64' (big-endian
    IEEE floats — pass floats in [-1, 1]) or b'ulaw'/b'alaw' (G.711
    — pass raw code bytes). ``bits`` in (8, 16, 24) for PCM; AIFF
    8-bit samples are SIGNED (unlike WAV)."""
    import numpy as np

    assert not (sowt and ima4)
    if ctype in (b"fl32", b"fl64"):
        a = np.asarray(samples, np.float64)
        if a.ndim == 1:
            a = a[:, None]
        n, ch = a.shape
        fb = 4 if ctype == b"fl32" else 8
        data = a.astype(f">f{fb}").tobytes()
        return _aifc_container(ctype, ch, n, 8 * fb, sample_rate, data)
    if ctype in (b"ulaw", b"alaw"):
        a = np.asarray(samples, np.uint8)
        if a.ndim == 1:
            a = a[:, None]
        n, ch = a.shape
        return _aifc_container(ctype, ch, n, 16, sample_rate,
                               a.tobytes())
    assert ctype is None
    a = np.asarray(samples, np.int64)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    lim = 1 << (bits - 1)
    assert bits in (8, 16, 24) and a.min(initial=0) >= -lim and \
        a.max(initial=0) < lim
    if ima4:
        assert bits == 16 and ch in (1, 2), "ima4: 16-bit mono/stereo"
        groups = (n + 63) // 64
        if n < groups * 64:  # pad the tail by holding the last sample
            tail = a[-1:] if n else np.zeros((1, ch), np.int64)
            a = np.concatenate(
                [a, np.repeat(tail, groups * 64 - n, axis=0)]
            )
        preds, idxs = [0] * ch, [0] * ch
        data = bytearray()
        for g in range(groups):
            for c in range(ch):
                pkt, preds[c], idxs[c] = _ima4_encode_packet(
                    a[g * 64 : (g + 1) * 64, c], preds[c], idxs[c]
                )
                data += pkt
        data = bytes(data)
    else:
        width = bits // 8
        inter = a.reshape(-1)
        data = bytearray()
        for v in inter:
            data += int(v & ((1 << bits) - 1)).to_bytes(
                width, "little" if sowt else "big"
            )
    if sowt or ima4:
        ctype = b"sowt" if sowt else b"ima4"
        comm_body = struct.pack(">hIh", ch, n, bits) + \
            _ieee754_extended_pack(float(sample_rate)) + ctype + \
            b"\x00\x00"  # empty pstring name, padded even
    else:
        comm_body = struct.pack(">hIh", ch, n, bits) + \
            _ieee754_extended_pack(float(sample_rate))
    ssnd_body = struct.pack(">II", 0, 0) + bytes(data)
    chunks = bytearray()
    for cid, body in ((b"COMM", comm_body), (b"SSND", ssnd_body)):
        chunks += cid + struct.pack(">I", len(body)) + body
        if len(body) % 2:
            chunks += b"\x00"
    form_type = b"AIFC" if (sowt or ima4) else b"AIFF"
    if sowt or ima4:
        fver = b"FVER" + struct.pack(">II", 4, 0xA2805140)
        chunks = fver + chunks
    return b"FORM" + struct.pack(">I", 4 + len(chunks)) + form_type + \
        bytes(chunks)


def _decode_aiff(b: bytes):
    """AIFF/AIFC bytes -> ((n, ch) samples, rate, fmt_code, bits)
    with the house dtype conventions (int16 scale for 8/16-bit, raw
    int32 for 24-bit). AIFC compression types other than NONE/sowt
    gate via require_codec."""
    import numpy as np

    if len(b) < 12 or b[:4] != b"FORM" or b[8:12] not in (b"AIFF",
                                                          b"AIFC"):
        raise ValueError("not an AIFF")
    is_aifc = b[8:12] == b"AIFC"
    pos = 12
    comm = None
    data = None
    little = False
    ima4 = False
    flbits = 0  # AIFC 'fl32'/'fl64' big-endian IEEE floats
    g711 = 0  # AIFC 'ulaw'/'alaw' G.711 code bytes
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from(">I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("AIFF chunk truncated")
        if cid == b"COMM":
            if len(body) < 18:
                raise ValueError("AIFF COMM chunk too short")
            ch, n, bits = struct.unpack_from(">hIh", body, 0)
            rate = _ieee754_extended_unpack(body[8:18])
            if is_aifc:
                if len(body) < 22:
                    raise ValueError("AIFC COMM missing compression type")
                ctype = body[18:22]
                if ctype == b"sowt":
                    little = True
                elif ctype == b"ima4":
                    ima4 = True
                elif ctype in (b"fl32", b"FL32"):
                    flbits = 32
                elif ctype in (b"fl64", b"FL64"):
                    flbits = 64
                elif ctype in (b"ulaw", b"ULAW"):
                    g711 = 1
                elif ctype in (b"alaw", b"ALAW"):
                    g711 = 27
                elif ctype not in (b"NONE",):
                    require_codec(f"AIFC compression {ctype!r}")
            comm = (ch, n, bits, rate)
        elif cid == b"SSND":
            if len(body) < 8:
                raise ValueError("AIFF SSND chunk too short")
            (off, _blk) = struct.unpack_from(">II", body, 0)
            if 8 + off > len(body):
                raise ValueError("AIFF SSND offset out of range")
            data = body[8 + off :]
        pos += 8 + size + (size & 1)
    if comm is None or data is None:
        raise ValueError("AIFF missing COMM/SSND chunk")
    ch, n, bits, rate = comm
    if ima4:
        # Apple QuickTime IMA 4:1 — COMM sampleSize stays 16 and
        # numSampleFrames counts DECODED frames (AIFF-C spec: the
        # uncompressed equivalent), not packets
        if ch < 1 or ch > 2 or n < 0 or bits != 16:
            raise ValueError("AIFC ima4 COMM fields implausible")
        if rate < 1 or rate > 1e7:
            raise ValueError("AIFF sample rate implausible")
        return _decode_aifc_ima4(data, ch, n, int(round(rate)))
    if flbits:
        # AIFC 'fl32'/'fl64': big-endian IEEE floats; same native
        # [-1, 1] value semantics as WAV format 3 (non-finite is a
        # value question for kernels, not a decode error)
        if ch < 1 or n < 0 or bits not in (flbits,):
            raise ValueError("AIFC float COMM fields implausible")
        if rate < 1 or rate > 1e7:
            raise ValueError("AIFF sample rate implausible")
        fb = flbits // 8
        need = n * ch * fb
        if len(data) < need:
            raise ValueError("AIFF SSND data shorter than COMM frames")
        out = np.frombuffer(data[:need], f">f{fb}").astype(
            np.float32 if flbits == 32 else np.float64
        )
        return out.reshape(n, ch), int(round(rate)), _AIFF_FMT_CODE, \
            flbits
    if g711:
        # AIFC 'ulaw'/'alaw': one G.711 code byte per sample through
        # the same expansion tables as WAV formats 7/6 (the q166
        # container-rotation class); COMM sampleSize is nominally 16
        # but writers vary — frames count is authoritative
        if ch < 1 or n < 0:
            raise ValueError("AIFC G.711 COMM fields implausible")
        if rate < 1 or rate > 1e7:
            raise ValueError("AIFF sample rate implausible")
        if len(data) < n * ch:
            raise ValueError("AIFF SSND data shorter than COMM frames")
        codes = np.frombuffer(data[: n * ch], np.uint8)
        lin = ulaw_expand(codes) if g711 == 1 else alaw_expand(codes)
        return lin.astype(np.int16).reshape(n, ch), int(round(rate)), \
            _AIFF_FMT_CODE, 8
    if ch < 1 or n < 0 or bits not in (8, 16, 24):
        raise ValueError("AIFF COMM fields implausible")
    if rate < 1 or rate > 1e7:
        raise ValueError("AIFF sample rate implausible")
    width = bits // 8
    need = n * ch * width
    if len(data) < need:
        raise ValueError("AIFF SSND data shorter than COMM frames")
    raw = data[:need]
    endian = "<" if little else ">"
    if bits == 16:
        s = np.frombuffer(raw, endian + "i2").astype(np.int16)
        out = s.reshape(n, ch)
    elif bits == 8:
        s = np.frombuffer(raw, np.int8).astype(np.int16) * 256
        out = s.reshape(n, ch)
    else:
        u = np.frombuffer(raw, np.uint8).reshape(n * ch, 3)
        if little:
            v = (u[:, 0].astype(np.int64) | (u[:, 1].astype(np.int64) << 8)
                 | (u[:, 2].astype(np.int64) << 16))
        else:
            v = ((u[:, 0].astype(np.int64) << 16)
                 | (u[:, 1].astype(np.int64) << 8)
                 | u[:, 2].astype(np.int64))
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        out = v.astype(np.int32).reshape(n, ch)
    return out, int(round(rate)), _AIFF_FMT_CODE, bits


def _decode_aifc_ima4(data: bytes, ch: int, n: int, rate: int):
    """Apple QuickTime 'ima4' AIFC payload -> ((n, ch) int16, rate,
    fmt sentinel, 16). Each 34-byte packet carries a 2-byte
    big-endian state preamble (top 9 bits: the predictor's high
    bits, i.e. pred & ~0x7F sign-extended; low 7 bits: the step
    index) followed by 32 nibble bytes = 64 samples, LOW nibble
    first. Packets for multi-channel audio interleave per channel
    within each 64-frame group. Unlike WAV IMA (format 0x11) the
    preamble predictor is NOT emitted as a sample — all 64 samples
    come from stepping the canonical state machine
    (``ima_adpcm_step``, the exact arithmetic the q169 oracle
    replays in a recursive CTE with the packet-boundary & ~0x7F
    snap). numSampleFrames may be below packets*64; the tail is
    dropped."""
    import numpy as np

    groups = (n + 63) // 64
    need = groups * 34 * ch
    if len(data) < need:
        raise ValueError("AIFC ima4 SSND shorter than COMM frames")
    if n == 0:
        return np.zeros((0, ch), np.int16), rate, _IMA4_FMT_CODE, 16
    out = np.empty((groups * 64, ch), np.int16)
    for c in range(ch):
        for g in range(groups):
            off = (g * ch + c) * 34
            (pre,) = struct.unpack_from(">H", data, off)
            pred = pre & 0xFF80
            if pred >= 0x8000:
                pred -= 0x10000
            idx = pre & 0x7F
            if idx > 88:
                raise ValueError("AIFC ima4 step index out of range")
            nib = np.frombuffer(data, np.uint8,
                                count=32, offset=off + 2)
            codes = np.empty(64, np.uint8)
            codes[0::2] = nib & 0x0F
            codes[1::2] = nib >> 4
            base = g * 64
            for m, code in enumerate(codes):
                pred, idx = ima_adpcm_step(pred, idx, int(code))
                out[base + m, c] = pred
    return out[:n], rate, _IMA4_FMT_CODE, 16


def _ima4_encode_packet(samples64, pred: int, idx: int):
    """Encode one 64-sample block as a 34-byte ima4 packet from the
    running (pred, idx) state. The preamble truncates the predictor
    to its top 9 bits, so the encoder snaps its own state to
    pred & ~0x7F first — both sides then agree bit-for-bit. Returns
    (packet bytes, new_pred, new_idx)."""
    pred &= ~0x7F  # the decoder can only see the preamble's 9 bits
    out = bytearray(struct.pack(">H", (pred & 0xFFFF) | (idx & 0x7F)))
    nibbles = []
    for s in samples64:
        step = _IMA_STEP[idx]
        diff = int(s) - pred
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
        nibbles.append(code)
    for j in range(0, 64, 2):
        out.append(nibbles[j] | (nibbles[j + 1] << 4))
    return bytes(out), pred, idx


def _ima4_packets_from_codes(codes, p0: int, x0: int) -> bytes:
    """SSND payload (mono) carrying a KNOWN nibble sequence — the
    q169-style corpus trick: the decoder is fed deterministic codes
    so the oracle replays pure state transitions without modeling an
    encoder. Packet preambles CONTINUE the running state (snapped to
    & ~0x7F at each boundary, exactly what a real streaming encoder
    emits). len(codes) must be a multiple of 64."""
    assert len(codes) % 64 == 0
    pred, idx = int(p0), int(x0)
    data = bytearray()
    for g in range(len(codes) // 64):
        pred &= ~0x7F
        data += struct.pack(">H", (pred & 0xFFFF) | idx)
        blk = codes[g * 64 : (g + 1) * 64]
        for j in range(0, 64, 2):
            data.append(int(blk[j]) | (int(blk[j + 1]) << 4))
        for code in blk:
            pred, idx = ima_adpcm_step(pred, idx, int(code))
    return bytes(data)


# ---------------------------------------------------------------------------
# FLAC (RFC 9639 / xiph format spec): pure integer lossless audio —
# the one absent audio format real corpora hit constantly that is
# feasible in-house. Decoder covers STREAMINFO (+ skipped metadata
# blocks), fixed-blocksize frames with UTF-8-coded frame numbers,
# CRC-8 header / CRC-16 frame / MD5 stream checks, CONSTANT /
# VERBATIM / FIXED (orders 0-4) / LPC subframes, wasted bits, Rice
# and Rice2 residual partitions with escape-to-raw, and the four
# stereo decorrelations (independent, left/side, right/side,
# mid/side — the side channel carries bps+1 bits). The encoder
# rotates all of it for decoder coverage. Structural damage raises
# ValueError (bit-flip sweep registered); Ogg-encapsulated FLAC
# gates.
# ---------------------------------------------------------------------------

_FLAC_FMT_CODE = 0xF1AC  # sentinel fmt_code audio kernels surface
_FLAC_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                    4: [4, -6, 4, -1]}
_FLAC_BLOCKSIZE_CODES = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                         256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                         8192: 13, 16384: 14, 32768: 15}
_FLAC_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}


def _flac_crc_tables():
    t8, t16 = [], []
    for byte in range(256):
        c = byte
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = byte << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (
                c << 1) & 0xFFFF
        t16.append(c)
    return t8, t16


_FLAC_CRC8_TABLE, _FLAC_CRC16_TABLE = _flac_crc_tables()


def _flac_crc8(data: bytes) -> int:
    """CRC-8 poly x^8+x^2+x+1 (0x07), init 0 — frame header check
    (table-driven: the per-bit loop was a third of decode time)."""
    crc = 0
    t = _FLAC_CRC8_TABLE
    for byte in data:
        crc = t[crc ^ byte]
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16 poly 0x8005, init 0 — whole-frame check (table-driven)."""
    crc = 0
    t = _FLAC_CRC16_TABLE
    for byte in data:
        crc = ((crc << 8) & 0xFFFF) ^ t[(crc >> 8) ^ byte]
    return crc


def _flac_md5_bytes(arr, bps: int) -> bytes:
    """Channel-interleaved little-endian sample bytes for the
    STREAMINFO MD5, vectorized (the per-sample to_bytes loop was a
    fifth of decode time)."""
    import numpy as np

    flat = np.asarray(arr, np.int64).reshape(-1)
    width = (bps + 7) // 8  # spec: ceil(bps/8) bytes per sample, LE
    mask = (1 << (8 * width)) - 1
    if width == 1:
        return (flat & mask).astype(np.uint8).tobytes()
    if width == 2:
        return (flat & mask).astype("<u2").tobytes()
    u = (flat & mask).astype("<u4")
    return u.view(np.uint8).reshape(-1, 4)[:, :width].tobytes()


def _flac_read_signed_block(rd, n: int, width: int):
    """n consecutive ``width``-bit signed values, gathered in one
    fancy-indexed pass over the stream's bit array (VERBATIM
    subframes and escaped-raw Rice partitions)."""
    import numpy as np

    if n == 0:
        return np.zeros(0, np.int64)
    bits, _ = rd.bit_arrays()
    end = rd.pos + n * width
    if end > bits.shape[0]:
        raise ValueError("FLAC bitstream truncated")
    cols = rd.pos + (
        np.arange(n, dtype=np.int64)[:, None] * width
        + np.arange(width, dtype=np.int64)
    )
    w = 1 << np.arange(width - 1, -1, -1, dtype=np.int64)
    vals = (bits[cols].astype(np.int64) * w).sum(axis=1)
    rd.pos = int(end)
    return np.where(vals >= 1 << (width - 1), vals - (1 << width), vals)


class _FlacBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, nbits: int, val: int) -> None:
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def put_signed(self, nbits: int, val: int) -> None:
        self.put(nbits, val & ((1 << nbits) - 1))

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(32, 0)
            q -= 32
        self.put(q + 1, 1)  # q zeros then a 1

    def align(self) -> None:
        if self.n:
            self.put(8 - self.n, 0)

    def bytes(self) -> bytes:
        assert self.n == 0, "flush the accumulator first"
        return bytes(self.buf)


class _FlacBitReader:
    def __init__(self, data: bytes, pos_bits: int = 0):
        self.data = data
        self.pos = pos_bits
        self._bits = None
        self._ones = None

    def bit_arrays(self):
        """(bits, ones): the stream as a 0/1 numpy array plus the
        sorted positions of its set bits — computed once per stream
        and shared by every Rice partition (the per-sample unary walk
        jumps between set bits instead of reading bit-by-bit)."""
        import numpy as np

        if self._ones is None:
            self._bits = np.unpackbits(
                np.frombuffer(self.data, np.uint8)
            )
            self._ones = np.flatnonzero(self._bits).astype(np.int64)
        return self._bits, self._ones

    def bits_left(self) -> int:
        return 8 * len(self.data) - self.pos

    def get(self, n: int) -> int:
        if self.bits_left() < n:
            raise ValueError("FLAC bitstream truncated")
        v = 0
        p = self.pos
        d = self.data
        while n:
            byte = d[p >> 3]
            avail = 8 - (p & 7)
            take = min(avail, n)
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            p += take
            n -= take
        self.pos = p
        return v

    def get_signed(self, n: int) -> int:
        v = self.get(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def get_unary(self) -> int:
        q = 0
        while True:
            if self.bits_left() < 1:
                raise ValueError("FLAC unary code truncated")
            if self.get(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC unary code runaway")

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _flac_utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers (36 bits)."""
    if n < 0x80:
        return bytes([n])
    for nbytes, maxv in ((2, 1 << 11), (3, 1 << 16), (4, 1 << 21),
                         (5, 1 << 26), (6, 1 << 31), (7, 1 << 36)):
        if n < maxv:
            out = bytearray(nbytes)
            for i in range(nbytes - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = (0xFF00 >> nbytes) & 0xFF | n
            return bytes(out)
    raise ValueError("FLAC frame number too large")


def _flac_utf8_decode(rd: _FlacBitReader) -> int:
    b0 = rd.get(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("FLAC bad UTF-8 frame number")
    v = b0 & (mask - 1)
    for _ in range(nbytes - 1):
        c = rd.get(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC bad UTF-8 continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_rice_cost(folded, p: int) -> int:
    return int((folded >> p).sum()) + len(folded) * (p + 1)


def _flac_write_residual(wr: _FlacBitWriter, res, blocksize: int,
                         order: int, part_order: int) -> None:
    """Rice-coded residual (method 0, 4-bit params) at the given
    partition order, escaping to raw where Rice loses."""
    import numpy as np

    wr.put(2, 0)
    wr.put(4, part_order)
    nparts = 1 << part_order
    assert blocksize % nparts == 0
    idx = 0
    for part in range(nparts):
        n = blocksize // nparts - (order if part == 0 else 0)
        chunk = res[idx : idx + n]
        idx += n
        folded = np.where(chunk >= 0, 2 * chunk, -2 * chunk - 1).astype(
            np.int64
        )
        best_p, best_c = 0, None
        for p in range(15):
            cost = _flac_rice_cost(folded, p)
            if best_c is None or cost < best_c:
                best_p, best_c = p, cost
        raw_bits = int(np.abs(chunk).max(initial=0)).bit_length() + 1
        if best_c > n * raw_bits + 5:
            wr.put(4, 0b1111)  # escape: raw samples
            wr.put(5, raw_bits)
            for v in chunk:
                wr.put_signed(raw_bits, int(v))
        else:
            wr.put(4, best_p)
            for f in folded:
                f = int(f)
                wr.put_unary(f >> best_p)
                if best_p:
                    wr.put(best_p, f & ((1 << best_p) - 1))


def _flac_read_residual(rd: _FlacBitReader, blocksize: int, order: int):
    """Rice partitions decode vectorized: the per-sample unary walk
    jumps between the stream's precomputed set-bit positions (the
    bit-by-bit reader was the FLAC kernel's hot loop), then every
    sample's p low bits gather in one fancy-indexed pass."""
    import numpy as np

    method = rd.get(2)
    if method > 1:
        raise ValueError("FLAC reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order = rd.get(4)
    nparts = 1 << part_order
    if blocksize % nparts or blocksize // nparts <= (
        order if nparts == 1 else 0
    ):
        raise ValueError("FLAC bad residual partition order")
    out = np.zeros(blocksize - order, np.int64)
    idx = 0
    for part in range(nparts):
        n = blocksize // nparts - (order if part == 0 else 0)
        if n < 0:
            raise ValueError("FLAC residual partition underflow")
        p = rd.get(pbits)
        if p == escape:
            raw = rd.get(5)
            if raw:
                out[idx : idx + n] = _flac_read_signed_block(rd, n, raw)
        elif n:
            bits, ones = rd.bit_arrays()
            pos0 = rd.pos
            ts = np.empty(n, np.int64)
            oi = int(np.searchsorted(ones, pos0))
            n_ones = ones.shape[0]
            pos = pos0
            for i in range(n):
                while True:
                    if oi >= n_ones:
                        raise ValueError("FLAC unary code truncated")
                    t = int(ones[oi])
                    oi += 1
                    if t >= pos:
                        break
                if t - pos > 1 << 20:
                    raise ValueError("FLAC unary code runaway")
                ts[i] = t
                pos = t + 1 + p
            if pos > bits.shape[0]:
                raise ValueError("FLAC bitstream truncated")
            starts = np.empty(n, np.int64)
            starts[0] = pos0
            starts[1:] = ts[:-1] + 1 + p
            quot = ts - starts
            if p:
                # gather every sample's p low bits in one vector pass
                cols = ts[:, None] + 1 + np.arange(p, dtype=np.int64)
                low = bits[cols].astype(np.int64)
                weights = 1 << np.arange(p - 1, -1, -1, dtype=np.int64)
                f = (quot << p) | (low * weights).sum(axis=1)
            else:
                f = quot
            out[idx : idx + n] = (f >> 1) ^ -(f & 1)
            rd.pos = int(pos)
        idx += n
    return out


def _flac_encode_subframe(wr: _FlacBitWriter, x, bps: int,
                          force=None) -> None:
    """One subframe with wasted-bits detection: CONSTANT when the
    block is flat, else FIXED at the |residual|-minimizing order —
    or the forced VERBATIM / order-2 LPC variants the synthetic
    corpus rotates for decoder coverage."""
    import numpy as np

    x = np.asarray(x, np.int64)
    n = len(x)
    wasted = 0
    if np.any(x) and force != "verbatim":
        ors = int(np.bitwise_or.reduce(x))
        while ors & 1 == 0 and wasted < bps - 1:
            wasted += 1
            ors >>= 1
    xs = x >> wasted if wasted else x
    eff_bps = bps - wasted

    def put_header(type_bits: int) -> None:
        wr.put(1, 0)
        wr.put(6, type_bits)
        if wasted:
            wr.put(1, 1)
            wr.put_unary(wasted - 1)
        else:
            wr.put(1, 0)

    if force is None and n and np.all(xs == xs[0]):
        put_header(0)
        wr.put_signed(eff_bps, int(xs[0]))
        return
    if force == "verbatim":
        put_header(1)
        for v in xs:
            wr.put_signed(eff_bps, int(v))
        return
    if force == "lpc" and n > 8:
        order, prec, shift = 2, 4, 1
        qlp = [3, -1]  # x[i] ~ (3*x[i-1] - x[i-2]) >> 1
        res = np.zeros(n - order, np.int64)
        for i in range(order, n):
            pred = sum(qlp[j] * int(xs[i - 1 - j]) for j in range(order))
            res[i - order] = int(xs[i]) - (pred >> shift)
        put_header(0b100000 | (order - 1))
        for j in range(order):
            wr.put_signed(eff_bps, int(xs[j]))
        wr.put(4, prec - 1)
        wr.put_signed(5, shift)
        for coef in qlp:
            wr.put_signed(prec, coef)
        po = 1 if n % 2 == 0 and n // 2 > order else 0
        _flac_write_residual(wr, res, n, order, po)
        return
    best = None
    for order in range(min(4, n - 1) + 1 if n > 1 else 1):
        res = xs.astype(np.int64)
        for _ in range(order):
            res = np.diff(res)
        cost = int(np.abs(res).sum())
        if best is None or cost < best[2]:
            best = (order, res, cost)
    order, res, _cost = best
    put_header(0b001000 | order)
    for j in range(order):
        wr.put_signed(eff_bps, int(xs[j]))
    po = 0
    for cand in (2, 1):
        if n % (1 << cand) == 0 and n // (1 << cand) > order:
            po = cand
            break
    _flac_write_residual(wr, res, n, order, po)


def _flac_decode_subframe(rd: _FlacBitReader, n: int, bps: int):
    import numpy as np

    if rd.get(1):
        raise ValueError("FLAC subframe padding bit set")
    t = rd.get(6)
    wasted = 0
    if rd.get(1):
        wasted = rd.get_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if t == 0:
        x = np.full(n, rd.get_signed(eff), np.int64)
    elif t == 1:
        x = _flac_read_signed_block(rd, n, eff)
    elif 8 <= t <= 12:
        order = t & 0x07
        if order > n:
            raise ValueError("FLAC fixed order exceeds blocksize")
        warm = [rd.get_signed(eff) for _ in range(order)]
        res = _flac_read_residual(rd, n, order)
        x = np.empty(n, np.int64)
        x[:order] = warm
        # a fixed predictor of order k is the k-fold difference, so
        # reconstruction is k seeded cumulative sums (vectorized) —
        # d^j x[i] = d^j x[i-1] + d^(j+1) x[i], seeded at i = k-1 by
        # the warmup's j-fold differences
        if order and n > order:
            cur = res.astype(np.int64)
            wa = np.asarray(warm, np.int64)
            for j in range(order - 1, -1, -1):
                seed = int(np.diff(wa, n=j)[-1]) if j else int(wa[-1])
                cur = seed + np.cumsum(cur)
            x[order:] = cur
        elif n > 0 and order == 0:
            x[:] = res
    elif t & 0b100000:
        order = (t & 0x1F) + 1
        if order > n:
            raise ValueError("FLAC LPC order exceeds blocksize")
        warm = [rd.get_signed(eff) for _ in range(order)]
        prec = rd.get(4) + 1
        if prec == 16:
            raise ValueError("FLAC invalid LPC precision")
        shift = rd.get_signed(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift")
        qlp = [rd.get_signed(prec) for _ in range(order)]
        res = _flac_read_residual(rd, n, order)
        x = np.empty(n, np.int64)
        x[:order] = warm
        for i in range(order, n):
            pred = sum(qlp[j] * int(x[i - 1 - j]) for j in range(order))
            x[i] = int(res[i - order]) + (pred >> shift)
    else:
        raise ValueError(f"FLAC reserved subframe type {t:#08b}")
    return x << wasted


def encode_flac(samples, sample_rate: int = 16000, bps: int = 16,
                blocksize: int = 256, ogg: bool = False,
                ogg_serial: int = 0x464C4143) -> bytes:
    """Mono (n,) or stereo (n, 2) int array -> FLAC bytes.

    Frames cycle the stereo decorrelation (independent /
    left-side / right-side / mid-side) and subframe strategy
    (auto fixed-order / VERBATIM / order-2 LPC) across frames so a
    multi-frame corpus exercises the full decoder surface. ``ogg``
    wraps the stream in Ogg pages per the xiph FLAC-to-Ogg mapping
    (mapping packet + a minimal VORBIS_COMMENT header packet + one
    frame per audio packet, small pages forcing 255-lacing spans);
    ``ogg_serial`` sets the logical-stream serial (chained links
    need distinct serials, round 11)."""
    import numpy as np

    a = np.asarray(samples, np.int64)
    if a.ndim == 1:
        a = a[:, None]
    n_total, nch = a.shape
    assert nch in (1, 2), "FLAC encoder: mono or stereo"
    assert bps in (8, 12, 16, 20, 24), "FLAC encoder: 8/12/16/20/24-bit"
    lim = 1 << (bps - 1)
    assert a.min(initial=0) >= -lim and a.max(initial=0) < lim
    import hashlib

    md5 = hashlib.md5(_flac_md5_bytes(a, bps)).digest()
    out = bytearray(b"fLaC")
    si = _FlacBitWriter()
    si.put(16, blocksize)
    si.put(16, blocksize)
    si.put(24, 0)
    si.put(24, 0)
    si.put(20, sample_rate)
    si.put(3, nch - 1)
    si.put(5, bps - 1)
    si.put(36, n_total)
    si_bytes = si.bytes() + md5
    si_block = bytes([0x80]) + len(si_bytes).to_bytes(3, "big") + si_bytes
    out += si_block
    frames = []  # (frame bytes, end-sample position) for Ogg paging
    frame_no = 0
    pos = 0
    while pos < n_total or (n_total == 0 and frame_no == 0):
        if n_total == 0:
            break
        nb = min(blocksize, n_total - pos)
        block = a[pos : pos + nb]
        if nb == blocksize and blocksize in _FLAC_BLOCKSIZE_CODES:
            bs_code, bs_extra = _FLAC_BLOCKSIZE_CODES[blocksize], None
        elif nb <= 256:
            bs_code, bs_extra = 6, nb - 1
        else:
            bs_code, bs_extra = 7, nb - 1
        ch_assign = 0 if nch == 1 else (1, 8, 9, 10)[frame_no % 4]
        wr = _FlacBitWriter()
        wr.put(14, 0b11111111111110)
        wr.put(1, 0)
        wr.put(1, 0)  # fixed-blocksize strategy: frame number follows
        wr.put(4, bs_code)
        wr.put(4, 0)  # sample rate from STREAMINFO
        wr.put(4, ch_assign)
        wr.put(3, _FLAC_SAMPLE_SIZE_CODES[bps])
        wr.put(1, 0)
        header = bytearray(wr.bytes())
        header += _flac_utf8_code(frame_no)
        if bs_code == 6:
            header.append(bs_extra)
        elif bs_code == 7:
            header += struct.pack(">H", bs_extra)
        header.append(_flac_crc8(bytes(header)))
        body = _FlacBitWriter()
        force = (None, "verbatim", "lpc")[frame_no % 3]
        if nch == 1:
            _flac_encode_subframe(body, block[:, 0], bps, force)
        else:
            left, right = block[:, 0], block[:, 1]
            if ch_assign == 1:
                _flac_encode_subframe(body, left, bps, force)
                _flac_encode_subframe(body, right, bps, force)
            elif ch_assign == 8:
                _flac_encode_subframe(body, left, bps, force)
                _flac_encode_subframe(body, left - right, bps + 1, force)
            elif ch_assign == 9:
                _flac_encode_subframe(body, left - right, bps + 1, force)
                _flac_encode_subframe(body, right, bps, force)
            else:
                _flac_encode_subframe(body, (left + right) >> 1, bps,
                                      force)
                _flac_encode_subframe(body, left - right, bps + 1, force)
        body.align()
        frame = bytes(header) + body.bytes()
        frame += struct.pack(">H", _flac_crc16(frame))
        out += frame
        pos += nb
        frames.append((frame, pos))
        frame_no += 1
    if not ogg:
        return bytes(out)
    # xiph FLAC-to-Ogg mapping: first packet = 0x7F "FLAC" 1 0
    # n_headers(BE16) + the native fLaC marker + STREAMINFO, alone on
    # the BOS page; one metadata block per following header packet (a
    # minimal VORBIS_COMMENT, like every libFLAC stream); then one
    # FLAC frame per audio packet, granule = last sample position
    vc_body = struct.pack("<I", 0) + struct.pack("<I", 0)  # vendor+0
    vc_block = bytes([0x04]) + len(vc_body).to_bytes(3, "big") + vc_body
    vc_block = bytes([0x80 | 0x04]) + vc_block[1:]  # VC is now last
    mapping = bytes([0x7F]) + b"FLAC" + bytes([1, 0]) + \
        struct.pack(">H", 1) + b"fLaC" + \
        bytes([si_block[0] & 0x7F]) + si_block[1:]  # more headers follow
    packets = [(mapping, None, True), (vc_block, None, True)]
    packets += [(fr, end, False) for fr, end in frames]
    return _ogg_encapsulate(packets, serial=ogg_serial)


# ---------------------------------------------------------------------------
# Ogg encapsulation (RFC 3533) for FLAC (xiph.org/flac/ogg_mapping):
# page walk -> segment-table packet reassembly (255-lacing
# continuation, continued-packet flag checks, per-page CRC-32 with
# the 0x04C11DB7 FORWARD polynomial — NOT zlib's reflected CRC) ->
# mapping header parse (0x7F "FLAC" major minor nheaders, embedded
# fLaC + STREAMINFO) -> native stream re-synthesis handed to the
# existing frame decoder (the header-rewrite trick: one audio packet
# per FLAC frame, so concatenation IS the native frame sequence).
# ---------------------------------------------------------------------------


def _ogg_crc_table():
    t = []
    for byte in range(256):
        c = byte << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & 0x80000000 \
                else (c << 1) & 0xFFFFFFFF
        t.append(c)
    return t


_OGG_CRC_TABLE = _ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32: poly 0x04C11DB7, init 0, no reflection, no
    final xor — computed over the page with the CRC field zeroed."""
    crc = 0
    t = _OGG_CRC_TABLE
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ t[((crc >> 24) & 0xFF) ^ byte]
    return crc


def _ogg_page(header_type: int, granule: int, serial: int, seq: int,
              segs, payload: bytes) -> bytes:
    page = bytearray(
        b"OggS" + bytes([0, header_type])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(segs)]) + bytes(segs)
    )
    page += payload
    struct.pack_into("<I", page, 22, _ogg_crc(bytes(page)))
    return bytes(page)


def _ogg_encapsulate(packets, serial: int = 0x464C4143,
                     max_segs: int = 40) -> bytes:
    """``packets`` is [(bytes, granule-or-None, own_page: bool)];
    granule None marks a header packet (page granule 0). Small
    ``max_segs`` pages force 255-lacing packet SPANS so decoders
    exercise continued-packet reassembly on ordinary corpora."""
    # expand to a flat (lacing, ends_packet_index) segment stream,
    # flushing pages at own_page boundaries or max_segs
    out = bytearray()
    seq = 0
    n = len(packets)
    cur_segs: list = []
    cur_payload = bytearray()
    cur_granule = None
    page_continues = False  # current page begins mid-packet

    def flush():
        nonlocal seq, cur_segs, cur_payload, cur_granule, page_continues
        htype = 0x01 if page_continues else 0x00
        if seq == 0:
            htype |= 0x02
        g = cur_granule if cur_granule is not None else -1
        out.extend(
            _ogg_page(htype, g, serial, seq, cur_segs, bytes(cur_payload))
        )
        seq += 1
        page_continues = cur_segs[-1] == 255 if cur_segs else False
        cur_segs, cur_payload, cur_granule = [], bytearray(), None

    for k, (data, granule, own_page) in enumerate(packets):
        if own_page and cur_segs:
            flush()
        lacing = [255] * (len(data) // 255) + [len(data) % 255]
        off = 0
        for j, lv in enumerate(lacing):
            cur_segs.append(lv)
            cur_payload += data[off : off + lv]
            off += lv
            if j == len(lacing) - 1:
                cur_granule = granule if granule is not None else \
                    (cur_granule if cur_granule is not None else 0)
            if len(cur_segs) >= max_segs and not (
                k == n - 1 and j == len(lacing) - 1
            ):
                flush()
        if own_page:
            flush()
    if cur_segs:
        flush()
    # mark EOS on the final page
    final = bytearray(out)
    # find last page start: walk from the beginning (pages are
    # variable-size; cheap for writer-side use)
    pos, last = 0, 0
    while pos < len(final):
        last = pos
        nsegs = final[pos + 26]
        pos += 27 + nsegs + sum(final[pos + 27 : pos + 27 + nsegs])
    final[last + 5] |= 0x04
    final[last + 22 : last + 26] = b"\x00\x00\x00\x00"
    nsegs = final[last + 26]
    end = last + 27 + nsegs + sum(final[last + 27 : last + 27 + nsegs])
    struct.pack_into(
        "<I", final, last + 22, _ogg_crc(bytes(final[last:end]))
    )
    return bytes(final)


def _ogg_page_spans(b: bytes):
    """Page (start, end) offsets of an Ogg byte stream (writer-side
    helper; assumes well-formed pages)."""
    pos, spans = 0, []
    while pos < len(b):
        if b[pos : pos + 4] != b"OggS":
            raise ValueError("Ogg capture pattern missing")
        nsegs = b[pos + 26]
        end = pos + 27 + nsegs + sum(b[pos + 27 : pos + 27 + nsegs])
        spans.append((pos, end))
        pos = end
    return spans


def ogg_skeleton_stream(serial: int = 0x6E6F6E65) -> bytes:
    """A minimal Ogg Skeleton logical stream (the metadata track real
    multiplexed files carry): a fishead BOS packet + one fisbone
    packet on the EOS page. Content is ignored by the FLAC demux —
    the stream exists to be correctly SKIPPED."""
    fishead = (
        b"fishead\x00" + struct.pack("<HH", 3, 0)
        + struct.pack("<qq", 0, 1000)  # presentation num/den
        + struct.pack("<qq", 0, 1000)  # basetime num/den
        + b"\x00" * 20  # UTC field
    )
    fisbone = (
        b"fisbone\x00" + struct.pack("<I", 44)
        + struct.pack("<I", 0x464C4143)  # bone for the FLAC serial
        + b"\x00" * 40
    )
    return _ogg_encapsulate(
        [(fishead, None, True), (fisbone, 0, True)], serial=serial
    )


def ogg_multiplex(*oggs: bytes) -> bytes:
    """Interleave complete single-serial Ogg streams into one GROUPED
    (multiplexed) file per RFC 3533: every stream's BOS page first
    (in argument order), then the remaining pages round-robin. Pages
    are byte-identical (serial, per-stream sequence numbers and CRCs
    unchanged) — grouping is purely a page-ordering transform."""
    spans = [
        [s[a:z] for a, z in _ogg_page_spans(s)] for s in oggs
    ]
    out = bytearray()
    for pages in spans:
        out += pages[0]
    rest = [pages[1:] for pages in spans]
    k = 0
    while any(rest):
        if rest[k % len(rest)]:
            out += rest[k % len(rest)].pop(0)
        k += 1
    return bytes(out)


def _ogg_flac_native(b: bytes) -> bytes:
    """Ogg FLAC bytes -> the equivalent NATIVE FLAC stream: walk
    pages (capture pattern, version 0, segment-table reassembly,
    CRC-32 per page, per-STREAM continued-flag consistency), demux
    logical streams by serial (round 11: GROUPED/multiplexed files —
    e.g. a Skeleton fishead stream alongside — and CHAINED files
    both decode: pages partition by serial, the FIRST FLAC-mapped
    stream wins, other serials are skipped like any real demuxer;
    a chained file's later links are by definition separate logical
    streams), parse the mapping header packet, skip the advertised
    header packets, and concatenate the audio packets (one FLAC
    frame each) behind a re-synthesized fLaC + STREAMINFO prologue.
    Structural damage — torn pages, bad CRC, a page for an unknown
    serial without BOS, duplicate BOS, pages after EOS, a stream
    ending mid-packet — raises ValueError; a mapping major-version
    bump still gates via require_codec."""
    pos = 0
    streams: dict = {}  # serial -> [packets, cur_buf, eos_flag]
    order: list = []
    while pos < len(b):
        if b[pos : pos + 4] != b"OggS":
            raise ValueError("Ogg capture pattern missing")
        if pos + 27 > len(b):
            raise ValueError("Ogg page header truncated")
        if b[pos + 4] != 0:
            raise ValueError("Ogg stream-structure version unsupported")
        htype = b[pos + 5]
        nsegs = b[pos + 26]
        hdr_end = pos + 27 + nsegs
        if hdr_end > len(b):
            raise ValueError("Ogg segment table truncated")
        segs = b[pos + 27 : hdr_end]
        paylen = sum(segs)
        if hdr_end + paylen > len(b):
            raise ValueError("Ogg page payload truncated")
        (crc_stored,) = struct.unpack_from("<I", b, pos + 22)
        zeroed = bytearray(b[pos : hdr_end + paylen])
        zeroed[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(zeroed)) != crc_stored:
            raise ValueError("Ogg page CRC mismatch")
        (pserial,) = struct.unpack_from("<I", b, pos + 14)
        st = streams.get(pserial)
        if st is None:
            if not (htype & 0x02):
                raise ValueError("Ogg page for unknown stream without BOS")
            st = streams[pserial] = [[], bytearray(), False]
            order.append(pserial)
        elif htype & 0x02:
            raise ValueError("Ogg duplicate BOS for one serial")
        if st[2]:
            raise ValueError("Ogg page after EOS for its stream")
        if bool(htype & 0x01) != bool(st[1]):
            raise ValueError("Ogg continued-packet flag inconsistent")
        p = hdr_end
        for s in segs:
            st[1] += b[p : p + s]
            p += s
            if s < 255:
                st[0].append(bytes(st[1]))
                st[1] = bytearray()
        if htype & 0x04:
            st[2] = True
        pos = hdr_end + paylen
    for pserial in order:
        if streams[pserial][1]:
            raise ValueError("Ogg stream ends mid-packet")
    packets = None
    for pserial in order:
        pk = streams[pserial][0]
        if pk and len(pk[0]) >= 5 and pk[0][0] == 0x7F \
                and pk[0][1:5] == b"FLAC":
            packets = pk
            break
    if packets is None:
        raise ValueError("Ogg stream is not FLAC-mapped")
    first = packets[0]
    if len(first) < 9 or first[0] != 0x7F or first[1:5] != b"FLAC":
        raise ValueError("Ogg stream is not FLAC-mapped")
    if first[5] != 1:
        require_codec(f"Ogg FLAC mapping major version {first[5]}")
    (nhdr,) = struct.unpack_from(">H", first, 7)
    if first[9:13] != b"fLaC":
        raise ValueError("Ogg FLAC first packet missing fLaC marker")
    if len(first) < 17 + 34 or (first[13] & 0x7F) != 0 or \
            int.from_bytes(first[14:17], "big") != 34:
        raise ValueError("Ogg FLAC first packet lacks STREAMINFO")
    if len(packets) < 1 + nhdr:
        raise ValueError("Ogg FLAC header packets missing")
    audio = packets[1 + nhdr :]
    if nhdr == 0:
        # the mapping allows 0 = "unknown count": skip leading
        # metadata packets by type — a FLAC frame always starts with
        # the 0xFF sync byte, a metadata block header never does
        while audio and audio[0][:1] != b"\xff":
            audio = audio[1:]
    si = bytearray(first[13 : 17 + 34])
    si[0] |= 0x80  # re-synthesized stream: STREAMINFO is the last block
    return b"fLaC" + bytes(si) + b"".join(audio)


def decode_flac(b: bytes):
    """FLAC bytes -> ((n, channels) int32 raw samples, sample_rate,
    bits). Verifies sync codes, CRC-8 frame headers, CRC-16 frames,
    sample-range bounds, and the STREAMINFO MD5 when present —
    structural damage raises ValueError. Ogg-encapsulated FLAC
    (round 10) reassembles pages to the native stream first."""
    import numpy as np

    if b[:4] == b"OggS":
        b = _ogg_flac_native(b)
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("FLAC metadata truncated")
        hdr = b[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        ln = int.from_bytes(b[pos + 1 : pos + 4], "big")
        if pos + 4 + ln > len(b):
            raise ValueError("FLAC metadata block truncated")
        if btype == 0:
            if ln != 34:
                raise ValueError("FLAC STREAMINFO wrong size")
            si = _FlacBitReader(b[pos + 4 : pos + 4 + 34])
            si.get(16), si.get(16), si.get(24), si.get(24)
            rate = si.get(20)
            nch = si.get(3) + 1
            bps = si.get(5) + 1
            total = si.get(36)
            md5 = b[pos + 4 + 18 : pos + 4 + 34]
            streaminfo = (rate, nch, bps, total, md5)
        elif btype == 127:
            raise ValueError("FLAC invalid metadata block type")
        pos += 4 + ln
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC missing STREAMINFO")
    rate, nch, bps, total, md5 = streaminfo
    if rate == 0 or nch < 1 or bps < 4:
        raise ValueError("FLAC STREAMINFO implausible")
    if total * nch > (1 << 31):
        raise ValueError("FLAC total samples implausible")
    chans: list = [[] for _ in range(nch)]
    got = 0
    rd = _FlacBitReader(b, pos * 8)
    while got < total:
        if rd.get(14) != 0b11111111111110:
            raise ValueError("FLAC frame sync lost")
        if rd.get(1):
            raise ValueError("FLAC reserved header bit set")
        rd.get(1)  # blocking strategy (number decodes identically)
        bs_code = rd.get(4)
        sr_code = rd.get(4)
        ch_assign = rd.get(4)
        ss_code = rd.get(3)
        if rd.get(1):
            raise ValueError("FLAC reserved header bit set")
        header_start = rd.pos // 8 - 4
        _flac_utf8_decode(rd)
        if bs_code == 0:
            raise ValueError("FLAC reserved blocksize code")
        elif bs_code == 1:
            nb = 192
        elif bs_code <= 5:
            nb = 576 << (bs_code - 2)
        elif bs_code == 6:
            nb = rd.get(8) + 1
        elif bs_code == 7:
            nb = rd.get(16) + 1
        else:
            nb = 256 << (bs_code - 8)
        if sr_code in (12, 13, 14):
            rd.get(8 if sr_code == 12 else 16)
        elif sr_code == 15:
            raise ValueError("FLAC invalid sample rate code")
        ss_map = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
        if ss_code not in ss_map:
            raise ValueError("FLAC reserved sample size code")
        if ss_map[ss_code] != bps:
            raise ValueError("FLAC frame/STREAMINFO sample size mismatch")
        crc_end = rd.pos // 8
        if rd.pos % 8:
            raise ValueError("FLAC frame header misaligned")
        if _flac_crc8(b[header_start:crc_end]) != rd.get(8):
            raise ValueError("FLAC frame header CRC mismatch")
        if got + nb > total:
            raise ValueError("FLAC frame samples exceed STREAMINFO total")
        if ch_assign < 8:
            if ch_assign + 1 != nch:
                raise ValueError("FLAC channel count mismatch")
            subs = [_flac_decode_subframe(rd, nb, bps)
                    for _ in range(nch)]
        elif ch_assign in (8, 9, 10):
            if nch != 2:
                raise ValueError("FLAC stereo decorrelation on non-stereo")
            if ch_assign == 8:
                left = _flac_decode_subframe(rd, nb, bps)
                side = _flac_decode_subframe(rd, nb, bps + 1)
                subs = [left, left - side]
            elif ch_assign == 9:
                side = _flac_decode_subframe(rd, nb, bps + 1)
                right = _flac_decode_subframe(rd, nb, bps)
                subs = [side + right, right]
            else:
                mid = _flac_decode_subframe(rd, nb, bps)
                side = _flac_decode_subframe(rd, nb, bps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError("FLAC reserved channel assignment")
        rd.align()
        frame_end = rd.pos // 8
        if _flac_crc16(b[header_start:frame_end]) != rd.get(16):
            raise ValueError("FLAC frame CRC mismatch")
        lim = 1 << (bps - 1)
        for c, s in zip(chans, subs):
            if s.size and (int(s.min()) < -lim or int(s.max()) >= lim):
                raise ValueError("FLAC decoded sample out of range")
            c.append(s)
        got += nb
    arr = np.stack(
        [np.concatenate(c) if c else np.zeros(0, np.int64) for c in chans],
        axis=-1,
    )
    if md5 != b"\x00" * 16:
        import hashlib

        if hashlib.md5(_flac_md5_bytes(arr, bps)).digest() != md5:
            raise ValueError("FLAC MD5 signature mismatch")
    return arr.astype(np.int32), rate, bps


def _exact_int_samples(col):
    """One decoded channel -> int64 samples for exact reductions:
    float sources micro-quantize ``rint(x * 2^15)`` (None when
    non-finite or beyond the int64-safe magnitude — a corrupt float32
    can carry 3e38 past an isfinite check); integer sources pass
    through at their raw scale."""
    import numpy as np

    s = col
    if np.issubdtype(s.dtype, np.floating):
        s = np.rint(s.astype(np.float64) * 32768.0)
        if not np.isfinite(s).all() or (
            s.size and float(np.abs(s).max()) > 2.0**62
        ):
            return None
    return s.astype(np.int64)


def _exact_dot(a, b):
    """Exact sum(a*b) of int64 sample arrays as a Python int; None
    when the true value exceeds int64 (a silently wrapped number is
    worse than an honest null — reachable now that 24/32-bit sources
    carry raw +/-2^23..2^31 values). The numpy fast path runs whenever
    the worst-case bound fits."""
    import numpy as np

    n = int(a.size)
    if n == 0:
        return 0
    ma, mb = int(np.abs(a).max()), int(np.abs(b).max())
    if ma * mb * n <= 2**63 - 1:
        return int((a * b).sum())
    total = sum(x * y for x, y in zip(a.tolist(), b.tolist()))
    return total if -(2**63) <= total <= 2**63 - 1 else None


def audio_exact_stats(df: DataFrame) -> DataFrame:
    """Integer-exact per-clip sample statistics (mono): sample count,
    linear sum, sum of squares, peak magnitude — all int64, so an
    engine that regenerates the codes and applies the same G.711
    expansion reproduces every value bit-for-bit. Integer sources
    (8/16-bit PCM on the int16 scale, raw ±2^23 for 24-bit, G.711 and
    ADPCM expansions) sum their raw values; float32 sources quantize
    per sample as rint(x * 2^15) in float64 first — exact whenever
    the signal is int16-scale material (x = k/2^15), the established
    micro-quantization discipline. Undecodable bytes yield nulls."""
    import numpy as np

    def stats(content):
        try:
            samples, _rate = decode_wav(bytes(content))
        except (ValueError, NotImplementedError, struct.error, IndexError):
            return None
        s = _exact_int_samples(samples[:, 0])
        if s is None:
            return None
        return (
            int(s.size),
            int(s.sum()),
            _exact_dot(s, s),
            int(np.abs(s).max()) if s.size else 0,
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_samples long, sum_lin long, sum_sq long, peak long",
        stats,
    )


def audio_features(df: DataFrame) -> DataFrame:
    """Duration, sample rate, RMS level, peak, and container variant
    (fmt_code, bits) per WAV payload — real decode + numpy reductions;
    undecodable bytes yield nulls. Levels normalize to [-1, 1] by
    source width: int16-scale material / 2^15, raw 24/32-bit /
    2^(bits-1), float32 as-is — so one amplitude means one level
    regardless of container width."""
    import numpy as np

    def features(content):
        try:
            samples, rate, fmt_code, bits = _decode_wav_full(bytes(content))
        except (ValueError, NotImplementedError, TypeError, struct.error):
            return None
        if np.issubdtype(samples.dtype, np.floating):
            f = samples.astype(np.float64)
        elif samples.dtype == np.int32:  # raw 24/32-bit values
            f = samples.astype(np.float64) / float(1 << (bits - 1))
        else:
            f = samples.astype(np.float64) / 32768.0
        return (
            int(samples.shape[1]),
            int(rate),
            int(fmt_code),
            int(bits),
            float(samples.shape[0] / rate),
            float(np.sqrt((f**2).mean())),
            float(np.abs(f).max(initial=0.0)),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, channels int, sample_rate int, fmt_code int, "
        "bits int, duration_sec double, rms double, peak double",
        features,
    )


def resample_audio(df: DataFrame, target_rate: int) -> DataFrame:
    """Nearest-sample resample to target_rate, re-encoded as WAV —
    the audio analog of nearest-neighbor image resize (linear-phase
    filters need DSP libs; index resampling is the honest numpy
    version)."""
    import numpy as np

    def resample(content):
        try:
            samples, rate, _fmt, bits = _decode_wav_full(bytes(content))
        except (ValueError, NotImplementedError, TypeError, struct.error):
            return None
        n_out = int(samples.shape[0] * target_rate / rate)
        idx = (np.arange(n_out) * rate) // target_rate
        picked = samples[idx]
        # non-int16 sources re-quantize to the int16 scale for the
        # 16-bit output container: raw 24/32-bit drop their low bits-16
        # bits (arithmetic shift = floor — the shift must follow the
        # SOURCE width, or 32-bit samples wrap in the int16 cast),
        # float32 rounds and clips — all deterministic and
        # engine-mirrorable
        if np.issubdtype(picked.dtype, np.floating):
            q = np.rint(np.nan_to_num(picked, nan=0.0) * 32768.0)
            picked = np.clip(q, -32768, 32767).astype(np.int16)
        elif picked.dtype == np.int32:
            picked = (picked >> (bits - 16)).astype(np.int16)
        return (encode_wav(picked, target_rate),)

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, content binary",
        resample,
    )


# ---------------------------------------------------------------------------
# Video: length-prefixed frame container
# ---------------------------------------------------------------------------

_VID_MAGIC = b"VIDF"


def encode_video(frames) -> bytes:
    """Concatenate encoded frames into b"VIDF" + u32 count +
    (u32 length + payload) per frame."""
    body = b"".join(struct.pack("<I", len(f)) + f for f in frames)
    return _VID_MAGIC + struct.pack("<I", len(frames)) + body


def sample_video_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Decode every n-th frame of a VIDF container — only the sampled
    frames are decoded (seek by length prefix, skip the rest), the
    access pattern that keeps frame-sampling linear in frames *kept*
    rather than frames stored."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                if content is None or bytes(content[:4]) != _VID_MAGIC:
                    continue
                b = bytes(content)
                # per-item containment (the house kernel rule): a
                # corrupt container — flipped frame count, length
                # prefix pointing past the buffer — must drop THIS
                # media item, never raise struct.error out of the
                # task. Frames buffer locally so a half-valid
                # container contributes nothing (atomic per item).
                try:
                    n = struct.unpack_from("<I", b, 4)[0]
                    pos = 8
                    got = []
                    for fno in range(n):
                        ln = struct.unpack_from("<I", b, pos)[0]
                        if pos + 4 + ln > len(b):
                            raise ValueError("VIDF frame truncated")
                        if fno % every_n == 0:
                            got.append(
                                (media_id, fno, b[pos + 4 : pos + 4 + ln])
                            )
                        pos += 4 + ln
                except (ValueError, struct.error, IndexError):
                    continue
                rows.extend(got)
            yield pd.DataFrame(rows, columns=_ddl_names(ddl))

    ddl = "media_id long, frame_no int, frame binary"
    return df.select("media_id", "content").mapInPandas(kernel, ddl)


def synthetic_audio_table(spark, n: int = 50) -> DataFrame:
    """Deterministic audio table for driver-verifiable decode:
    media_id i carries a mono signal — base amplitude
    ``(i * 500) % 32768``, ``8000 + (i % 4) * 4000`` frames at
    16 kHz — cycling EIGHT container variants by ``i % 8``. The five
    constant-amplitude PCM WAVs (round 8): 16-bit plain, unsigned
    8-bit (sample byte ``128 + amp div 256``, decoded int16-scale
    value ``amp - amp mod 256``), 24-bit inside a
    WAVE_FORMAT_EXTENSIBLE container (sample ``amp * 256``, how real
    24-bit files ship), IEEE float32 (``amp / 2^15``, an exact
    dyadic), and 32-bit integer PCM (sample ``amp * 256``). Two FLAC
    variants (round 9 — lossless, so VARYING signals keep closed
    forms): k=5 is 16-bit FLAC of ``amp - (t*7 + i) mod 97`` and k=6
    is 24-bit FLAC of ``(amp - (t*11 + i) mod 73) * 256`` raw, both
    at blocksize 4096 with the encoder's frame-mode rotation
    (fixed/VERBATIM/LPC subframes and a short final frame) so the
    oracle-gated row exercises the real decoder surface; the
    i%16==13 / i%16==14 sub-rotation ships those rows OGG-
    ENCAPSULATED (round 10 — page walk, CRC-32, lacing reassembly;
    lossless, so the oracle is container-invisible, the q166 .au
    lesson: the row still gates on the Ogg decode path); i%32==29
    additionally GROUPS the Ogg FLAC with a Skeleton stream and
    i%32==30 CHAINS a second distinct-serial FLAC link behind the
    first (round 11 — both demux-invisible to the oracle, both
    gating on the multi-stream page walk). k=7 (round
    9) is constant-amplitude AIFF — big-endian 16-bit PCM with the
    80-bit-extended sample-rate field, or the AIFC little-endian
    'sowt' layout when i%16==15 (both decode identically, so one
    oracle row covers the sub-variant rotation). Every variant's
    duration, peak, and exact sums keep closed forms an independent
    engine can recompute without decoding."""
    import numpy as np

    rows = []
    for i in range(n):
        amp = (i * 500) % 32768
        frames = 8000 + (i % 4) * 4000
        k = i % 8
        t = np.arange(frames, dtype=np.int64)
        if k == 0:
            content = encode_wav(np.full(frames, amp, np.int16), 16000)
        elif k == 1:
            content = encode_wav_pcm8(
                np.full(frames, 128 + amp // 256, np.uint8), 16000
            )
        elif k == 2:
            content = encode_wav_pcm24(
                np.full(frames, amp * 256, np.int32), 16000, extensible=True
            )
        elif k == 3:
            if i % 16 == 11:  # round 10: AIFC 'fl64' big-endian floats
                content = encode_aiff(
                    np.full(frames, amp / 32768.0), 16000, ctype=b"fl64"
                )
            else:
                content = encode_wav_float32(
                    np.full(frames, amp / 32768.0, np.float32), 16000
                )
        elif k == 4:
            if i % 16 == 12:  # round 10: .au encoding 6 (float32 BE)
                content = encode_au(
                    np.full(frames, amp / 32768.0), 6, 16000
                )
            else:
                content = encode_wav_pcm32(
                    np.full(frames, amp * 256, np.int32), 16000
                )
        elif k == 5:
            content = encode_flac(
                amp - (t * 7 + i) % 97, 16000, bps=16, blocksize=4096,
                ogg=(i % 16 == 13),
            )
            if i % 32 == 29:
                # round 11: GROUPED (multiplexed) Ogg — a Skeleton
                # metadata stream interleaves with the FLAC pages;
                # decode must demux by serial, so the fold is
                # oracle-invisible but gates on the grouped walk
                content = ogg_multiplex(ogg_skeleton_stream(), content)
        elif k == 6:
            content = encode_flac(
                (amp - (t * 11 + i) % 73) * 256, 16000, bps=24,
                blocksize=4096, ogg=(i % 16 == 14),
            )
            if i % 32 == 30:
                # round 11: CHAINED Ogg — a second FLAC link (distinct
                # serial, different audio) follows the first; a
                # demuxer decodes the FIRST link, so the fold is
                # oracle-invisible but gates on the chain walk
                content += encode_flac(
                    (t[:2048] * 3) % 1024 - 512, 8000, bps=16,
                    blocksize=1024, ogg=True, ogg_serial=0x0BADCAFE,
                )
        else:
            content = encode_aiff(
                np.full(frames, amp, np.int64), 16000, bits=16,
                sowt=(i % 16 == 15),
            )
        ext = {5: "flac", 6: "flac", 7: "aiff"}.get(k, "wav")
        if k == 3 and i % 16 == 11:
            ext = "aifc"
        elif k == 4 and i % 16 == 12:
            ext = "au"
        rows.append((i, content, ext))
    return _media_table(spark, "audio", rows)


def image_exact_stats(df: DataFrame) -> DataFrame:
    """Integer-exact per-image pixel statistics — the driver-verifiable
    face of the feature-extract stage (``image_features`` keeps the
    float API). Per image: pixel count, exact channel sums, and exact
    sums of a micro-quantized luminance (lq = 2126*R + 7152*G + 722*B,
    i.e. Rec.709 x 1e4) and its square — all int64, so an independent
    engine that regenerates the deterministic pixels reproduces every
    value bit-for-bit; means/stds derive downstream as one
    correctly-rounded division/sqrt. Pixels never leave the kernel;
    five scalars per image cross back. Overflow headroom: lq <=
    2.55e6, lq^2 <= 6.5e12, so sum_lq2 stays under int64 through
    ~1.4e6 pixels per image (gate larger frames upstream)."""
    import numpy as np

    def stats(content):
        px, _fmt = _decode_any(content)
        if px is None:
            return None
        p = px.astype(np.int64)
        lq = p @ np.array([2126, 7152, 722], dtype=np.int64)
        return (
            *_px_sums(p),
            int(lq.sum()),
            int((lq * lq).sum()),
        )

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, n_px long, sum_r long, sum_g long, sum_b long, "
        "sum_lq long, sum_lq2 long",
        stats,
    )


def synthetic_gif_partial_table(spark, n: int = 40) -> DataFrame:
    """Deterministic partial-frame GIF table: image i's logical
    screen is (20+(i%5)*4) x (16+(i%4)*4) with background color
    ((i*5)%256, (i*11)%256, (i*17)%256); a 7+(i%6)*2 x 5+(i%5)*2
    gradient frame (``make_test_pixels`` seed i*7) sits at offset
    (i % (sw-w+1), (i*3) % (sh-h+1)); odd ids interlace the frame.
    q199's oracle replays screen, background fill, and frame
    placement closed-form, position-weighted."""
    rows = []
    for i in range(n):
        sw, sh = 20 + (i % 5) * 4, 16 + (i % 4) * 4
        w, h = 7 + (i % 6) * 2, 5 + (i % 5) * 2
        ox, oy = i % (sw - w + 1), (i * 3) % (sh - h + 1)
        px = make_test_pixels(w, h, seed=i * 7)
        content = encode_gif(
            px,
            interlace=bool(i % 2),
            screen=(sw, sh),
            offset=(ox, oy),
            background=((i * 5) % 256, (i * 11) % 256, (i * 17) % 256),
        )
        rows.append((i, content, "gif"))
    return _media_table(spark, "image", rows)


def synthetic_gif_animation_table(spark, n: int = 40) -> DataFrame:
    """Deterministic multi-frame GIF animations: image i carries
    nf = 2+(i%3) frames of wf=7+(i%5)*2 x hf=5+(i%4)*2 gradient
    pixels r=(x+y+i*7+31k) mod 256 (channel offsets +85/+170),
    frame k at offset (1+k*(wf+1), 2) — horizontally disjoint — on a
    (2+nf*(wf+1)) x (hf+4) screen with background
    ((i*5)%256, (i*11)%256, (i*17)%256). Even ids use disposal 1
    (frames accumulate), odd ids disposal 2 (background restores, so
    each rendered frame shows only itself); ids with i%3==2
    additionally mark each frame's (x=2,y=0) color transparent —
    exactly the three x+y==2 anti-diagonal pixels, which therefore
    show the background. q199's oracle replays every rendered canvas
    closed-form. media_id offset +100 keeps ids disjoint from the
    single-frame corpus."""
    import numpy as np

    rows = []
    for i in range(n):
        nf = 2 + (i % 3)
        wf, hf = 7 + (i % 5) * 2, 5 + (i % 4) * 2
        sw, sh = 2 + nf * (wf + 1), hf + 4
        bg = ((i * 5) % 256, (i * 11) % 256, (i * 17) % 256)
        disp = 1 if i % 2 == 0 else 2
        frames = []
        for k in range(nf):
            y, x = np.mgrid[0:hf, 0:wf]
            r = (x + y + i * 7 + 31 * k) % 256
            px = np.stack(
                [r, (r + 85) % 256, (r + 170) % 256], axis=-1
            ).astype(np.uint8)
            tr = tuple(int(v) for v in px[0, 2]) if i % 3 == 2 else None
            frames.append((px, (1 + k * (wf + 1), 2), disp, tr))
        rows.append(
            (
                100 + i,
                encode_gif_animation(frames, (sw, sh), bg),
                "anim.gif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_tiff_multipage_table(spark, n: int = 12) -> DataFrame:
    """Deterministic multi-page TIFF table (chained IFDs — the
    scanned-document layout): file i carries 2+(i%3) pages whose
    dims VARY per page (w=10+((i+k)%4)*3, h=8+((i+k)%3)*4) with
    page-k pixels r=(x*3 + y*7 + i*11 + k*29) mod 256 (channel
    offsets +85/+170). Containers rotate compression (i%4), byte
    order (i%2), and 4-row strips (i%3==0). q199's oracle replays
    every page closed-form, position-weighted (a swapped or dropped
    page shifts wsum_r). media_id offset +200 keeps ids disjoint
    from both GIF corpora."""
    import numpy as np

    comps = ("none", "packbits", "lzw", "deflate")
    rows = []
    for i in range(n):
        pages = []
        for k in range(2 + (i % 3)):
            w, h = 10 + ((i + k) % 4) * 3, 8 + ((i + k) % 3) * 4
            y = np.arange(h, dtype=np.int64)[:, None]
            x = np.arange(w, dtype=np.int64)[None, :]
            r = (x * 3 + y * 7 + i * 11 + k * 29) % 256
            pages.append(
                np.stack([r, (r + 85) % 256, (r + 170) % 256],
                         axis=-1).astype(np.uint8)
            )
        rows.append(
            (
                200 + i,
                encode_tiff_multipage(
                    pages,
                    compression=comps[i % 4],
                    big_endian=bool(i % 2),
                    rows_per_strip=4 if i % 3 == 0 else 0,
                ),
                "multi.tif",
            )
        )
    return _media_table(spark, "image", rows)


def synthetic_apng_table(spark, n: int = 12) -> DataFrame:
    """Deterministic APNG animations: file i's canvas is
    (2+nf*(wf+1)) x (hf+4) (nf = 2+(i%3), wf = 7+(i%5)*2,
    hf = 5+(i%4)*2); frame 0 is the full canvas at the opaque
    background color ((i*5)%256, (i*11)%256, (i*17)%256); animation
    frames k=1..nf sit at the horizontally disjoint rects
    (1+(k-1)*(wf+1), 2) with r=(x+y+i*7+31k) mod 256 (+85/+170
    channel offsets) and BINARY alpha — the three x+y==2 pixels are
    fully transparent when i%3==2, everything else opaque (exact
    under OVER and closed-form either way). Even i: dispose NONE +
    blend SOURCE (rects accumulate, transparent pixels REPLACE —
    unlike GIF). Odd i: dispose BACKGROUND + blend OVER (prior rects
    clear to transparent black, the live rect alpha-composites over
    the background). q199's oracle replays every rendered canvas.
    media_id offset +300."""
    import numpy as np

    rows = []
    for i in range(n):
        nf = 2 + (i % 3)
        wf, hf = 7 + (i % 5) * 2, 5 + (i % 4) * 2
        sw, sh = 2 + nf * (wf + 1), hf + 4
        bg = np.zeros((sh, sw, 4), np.uint8)
        bg[..., 0] = (i * 5) % 256
        bg[..., 1] = (i * 11) % 256
        bg[..., 2] = (i * 17) % 256
        bg[..., 3] = 255
        dispose = 0 if i % 2 == 0 else 1
        blend = 0 if i % 2 == 0 else 1
        frames = [(bg, (0, 0), 0, 0)]
        for k in range(1, nf + 1):
            y, x = np.mgrid[0:hf, 0:wf]
            r = (x + y + i * 7 + 31 * k) % 256
            a = np.where((i % 3 == 2) & (x + y == 2), 0, 255)
            px = np.stack(
                [r, (r + 85) % 256, (r + 170) % 256, a], axis=-1
            ).astype(np.uint8)
            frames.append((px, (1 + (k - 1) * (wf + 1), 2),
                           dispose, blend))
        rows.append(
            (
                300 + i,
                encode_apng(frames, (sw, sh)),
                "apng",
            )
        )
    return _media_table(spark, "image", rows)


def gif_frame_stats(df: DataFrame) -> DataFrame:
    """Per-RENDERED-FRAME canvas statistics for multi-frame media —
    GIF animations (and single-frame GIFs, which yield one row at
    frame_id 0) and multi-page TIFFs (round 9: one row per chained
    IFD, dispatched on the container magic): pixel count, exact
    channel sums, the position-weighted red sum (catches wrong
    offsets, interlace pass order, disposal mistakes, AND swapped
    page order — a canvas carrying a stale or missing prior frame
    shifts it), and the canvas max. All int64."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    if content is None:
                        raise ValueError("null media content")
                    cb = bytes(content)
                    if cb[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
                        frames = decode_tiff_pages(cb)
                    elif cb[:8] == _PNG_SIG:
                        frames = decode_apng_frames(cb)
                    else:
                        frames = decode_gif_frames(cb)
                except (ValueError, NotImplementedError, struct.error):
                    out.append(
                        (media_id, None, None, None, None, None, None,
                         None)
                    )
                    continue
                for k, f in enumerate(frames):
                    p = f.astype(np.int64)
                    hh, ww = p.shape[0], p.shape[1]
                    wgt = np.arange(
                        1, hh * ww + 1, dtype=np.int64
                    ).reshape(hh, ww)
                    out.append(
                        (
                            media_id,
                            k,
                            *_px_sums(p),
                            int((wgt * p[..., 0]).sum()),
                            int(p.max()),
                        )
                    )
            yield pd.DataFrame(out, columns=_ddl_names(ddl))

    ddl = (
        "media_id long, frame_id long, n_px long, sum_r long, "
        "sum_g long, sum_b long, wsum_r long, aux long"
    )
    return df.select("media_id", "content").mapInPandas(kernel, ddl)


def codec_census_stats(df: DataFrame) -> DataFrame:
    """Integer-exact per-image stats + a per-format auxiliary check
    value, for corpora that mix sample widths: (fmt, n_px, exact
    channel sums, aux) where aux is the max sample value for PPM
    (proves 2-byte big-endian samples were really read — a
    byte-order or stride bug caps or scrambles it), the count of
    RSTm markers for baseline JPEG (proves the encoder emitted and
    the decoder consumed the restart structure), and scans*1000 +
    restarts for progressive JPEG (proves the full multi-scan layout
    AND any per-scan restart segmentation are present — both via
    ``jpeg_marker_summary``'s structural walk, so entropy bytes
    can't false-positive). Channel sums use int64 (no
    lq² here: 16-bit samples would overflow the squared-luma
    accumulator that ``image_exact_stats`` uses for 8-bit
    corpora)."""
    import numpy as np

    def census(content):
        px, fmt = _decode_any(content)
        if px is None:
            return None
        p = px.astype(np.int64)
        if fmt == "jpeg":
            try:
                prog, n_scans, n_rst, sof, hier = jpeg_marker_summary(
                    bytes(content)
                )
            except ValueError:
                return None
            if hier:
                # hierarchical pyramid: aux pins frames AND restart
                # structure (round 12)
                fmt, aux = "jpeg_hier", n_scans * 1000 + n_rst
            elif prog:
                fmt, aux = "jpeg_prog", n_scans * 1000 + n_rst
            elif sof == 0xC3:
                fmt, aux = "jpeg_ll", n_rst  # lossless class
            else:
                aux = n_rst
        else:
            aux = int(p[..., :3].max())
        if fmt in ("ppm", "tiff") and px.dtype == np.uint16:
            fmt += "16"
        return (fmt, *_px_sums(p), int(aux))

    return _map_media(
        df.select("media_id", "content"),
        "media_id long, fmt string, n_px long, sum_r long, sum_g long, "
        "sum_b long, aux long",
        census,
    )


def synthetic_video_table(spark, n: int = 20) -> DataFrame:
    """Deterministic VIDF table for driver-verifiable frame sampling:
    media i holds ``6 + (i % 5)`` PPM frames of size 16x(16 + (i%3)*4),
    frame f's pixels from ``make_test_pixels(w, h, seed=i * 100 + f)``
    — every sampled frame's pixel sums have a closed form an
    independent engine can recompute."""
    rows = []
    for i in range(n):
        w, h = 16, 16 + (i % 3) * 4
        frames = [
            encode_ppm(make_test_pixels(w, h, seed=i * 100 + f))
            for f in range(6 + (i % 5))
        ]
        rows.append((i, encode_video(frames), "vidf"))
    return _media_table(spark, "video", rows)


def frame_exact_stats(frames_df: DataFrame) -> DataFrame:
    """Integer-exact pixel stats per SAMPLED frame — the decode step
    downstream of ``sample_video_frames`` (only kept frames were ever
    extracted from the container, so this is linear in frames KEPT).
    Input: (media_id, frame_no, frame) from sample_video_frames;
    output int64 (n_px, sum_r, sum_g, sum_b) per frame."""
    import numpy as np

    def stats(frame):
        px, _fmt = _decode_any(frame)
        if px is None:
            return None
        return _px_sums(px.astype(np.int64))

    return _map_media(
        frames_df.select("media_id", "frame_no", "frame"),
        "media_id long, frame_no int, n_px long, sum_r long, sum_g long, "
        "sum_b long",
        stats,
    )
