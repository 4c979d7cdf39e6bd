"""Multimodal (image/audio/video) column operators.

Media are opaque ``binary`` columns with typed metadata — the schema,
partitioning, Arrow batch shape and ``mapInPandas`` UDF signatures are
the real 100 TB design; only the *codec* is stubbed, because no
image/audio library ships in this container.

CODEC NOTICE: PNG is decoded for real — a vendored pure-stdlib
decoder (:func:`_decode_png`: zlib inflate + per-scanline unfilter)
handles 8-bit non-interlaced gray/RGB/palette/alpha images with no
third-party dependency, so one genuine container decodes end-to-end
in every environment. BASELINE JPEG likewise decodes for
real (round 11 — :func:`_decode_jpeg_pixels`: marker parse, canonical
Huffman entropy decode with byte-stuffing and restart markers,
dequant, de-zigzag, orthonormal IDCT; GRAYSCALE and interleaved
YCbCr COLOR at any integer sampling incl. 4:2:0, JFIF BT.601
convert); progressive / 12-bit / CMYK
JPEG and the other real containers (GIF/BMP/RIFF magics) route to
Pillow when present and raise a crisp NotImplementedError otherwise —
they are NEVER fed to the fake codec. Blobs without a container magic use a DETERMINISTIC FAKE
codec that reads the 5-byte header this module's own
:func:`synthetic_media` writes (w_hi, w_lo, h_hi, h_lo, channels);
that path stays the oracle-parity substrate. Every DataFrame-level
contract (schemas, batching, explode shapes) is exercised as-is by
the tests.

Scale design:
- decode/resize/frame-sample run as ``mapInPandas`` — Arrow-batched,
  one Python worker per partition, no row-at-a-time serialization;
- blobs never shuffle for per-item ops (narrow transforms); only the
  optional feature aggregations shuffle their small numeric outputs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import storage

MEDIA_SCHEMA = (
    "media_id bigint, kind string, data binary, meta map<string,string>"
)

DECODED_SCHEMA = (
    "media_id bigint, width int, height int, channels int, mean_byte double"
)

FRAME_SCHEMA = "media_id bigint, frame_no int, frame binary"

FEATURE_SCHEMA = (
    "media_id bigint, n_bytes int, byte_entropy double, hist array<double>"
)

_HEADER = 5  # bytes: w_hi w_lo h_hi h_lo channels

try:  # the real codec, if the environment provides it
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None

# magic prefixes of real image containers — routed to Pillow, never to
# the fake codec (a silent fake-decode of a real PNG would be data
# corruption, not a stub)
_IMAGE_MAGIC = (b"\x89PNG", b"\xff\xd8", b"GIF8", b"BM", b"RIFF")


def _is_real_image(data: bytes) -> bool:
    head = bytes(data[:8])
    return any(head.startswith(m) for m in _IMAGE_MAGIC)


def synthetic_media(spark: SparkSession, n: int, kind: str = "image") -> DataFrame:
    """Deterministic fake media blobs for tests: header-encoded
    dimensions + a payload derived from the id (no randomness — results
    reproduce across runs and engines)."""

    def blob(i: int) -> bytes:
        w, h, c = 16 + (i % 8), 12 + (i % 5), 3
        payload = bytes(((i * 31 + j * 7) % 251) for j in range(w * h * c))
        return bytes([w // 256, w % 256, h // 256, h % 256, c]) + payload

    rows = [(i, kind, blob(i), {"codec": "fake", "src": f"synth/{i}"}) for i in range(n)]
    # size the partitioning to the corpus instead of defaultParallelism:
    # 200 blobs on 32 slices made every Arrow hash stage pay 32 Python
    # worker launches for ~6 rows each (real media arrives from parquet,
    # where maxPartitionBytes does this job)
    slices = max(1, min(spark.sparkContext.defaultParallelism, n // 32))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), MEDIA_SCHEMA
    )


def _decode_png(data: bytes) -> tuple[int, int, int, float]:
    """→ (width, height, channels, mean pixel byte); thin wrapper over
    :func:`_decode_png_pixels` for the decode-features path."""
    width, height, nch, out = _decode_png_pixels(data)
    mean = sum(out) / len(out) if out else 0.0
    return width, height, nch, mean


def _decode_png_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Vendored pure-stdlib PNG decoder → (width, height, channels,
    raw pixel bytes). Full chunk walk + zlib inflate + per-scanline
    unfilter (filters 0–4: None/Sub/Up/Average/Paeth) for 8-bit
    non-interlaced images, color types 0 (gray), 2 (RGB), 3 (palette,
    expanded to RGB), 4 (gray+alpha), 6 (RGBA) — the shapes that
    cover virtually all training-corpus PNGs. Exotic shapes (1/2/4/16
    bit depths, Adam7 interlace) raise NotImplementedError rather
    than mis-decode. Deterministic and dependency-free, so the PNG
    path behaves identically on every cluster node and in CI."""
    import struct
    import zlib

    pos = 8  # past the \x89PNG\r\n\x1a\n signature
    width = height = bitdepth = colortype = interlace = None
    idat = bytearray()
    palette = b""
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            width, height, bitdepth, colortype, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if width is None:
        raise ValueError("PNG: missing IHDR chunk")
    if bitdepth != 8 or interlace != 0 or colortype not in (0, 2, 3, 4, 6):
        raise NotImplementedError(
            f"PNG shape not supported by the vendored decoder "
            f"(bitdepth={bitdepth}, colortype={colortype}, "
            f"interlace={interlace}); install Pillow for exotic shapes"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype]
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    if len(raw) < height * (stride + 1):
        raise ValueError("PNG: truncated scanline data")
    out = bytearray()
    prev = bytearray(stride)
    rp = 0
    for _ in range(height):
        flt = raw[rp]
        rp += 1
        line = bytearray(raw[rp : rp + stride])
        rp += stride
        if flt == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif flt == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif flt == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif flt == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                b = prev[i]
                c = prev[i - nch] if i >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif flt != 0:
            raise ValueError(f"PNG: unknown filter type {flt}")
        out += line
        prev = line
    if colortype == 3:  # palette indices → RGB triples
        # a missing/short PLTE must not silently yield truncated
        # pixels (the decoder's contract is raise-rather-than-misdecode)
        if out and len(palette) < 3 * (max(out) + 1):
            raise ValueError(
                f"PNG: palette has {len(palette) // 3} entries but "
                f"scanlines index up to {max(out)}"
            )
        px = bytearray()
        for idx in out:
            px += palette[idx * 3 : idx * 3 + 3]
        out, nch = px, 3
    return width, height, nch, bytes(out)


def encode_png(width: int, height: int, channels: int, payload: bytes) -> bytes:
    """Minimal PNG writer (filter-0 scanlines, one IDAT) for fixtures
    and round-trip tests of :func:`_decode_png`; ``payload`` must be
    ``width*height*channels`` bytes, channels ∈ {1, 2, 3, 4}."""
    import struct
    import zlib

    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if len(payload) != width * height * channels:
        raise ValueError("encode_png: payload size != width*height*channels")

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    stride = width * channels
    raw = b"".join(
        b"\x00" + payload[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


# ------------------------------------------------ baseline JPEG (r11)
# The declared Pillow-free residual closed for the profile that
# matters at corpus scale: BASELINE sequential (SOF0) GRAYSCALE JPEG
# decodes for real — pure stdlib + numpy (marker parse, canonical
# Huffman entropy decode with byte-stuffing and restart markers,
# dequant, de-zigzag, orthonormal 8×8 IDCT, level shift). Color /
# progressive / 12-bit profiles keep the Pillow-or-refuse contract
# (NotImplementedError falls through to Pillow exactly like the PNG
# decoder's exotic shapes). `encode_jpeg_gray` is the fixture twin —
# it writes its own canonical Huffman tables (any valid DHT is legal;
# no dependence on the Annex K defaults), so round-trip tests pin the
# decoder against analytic DCT ground truth in every environment.


def _jpeg_zigzag() -> list:
    """Scan-position → block-index map, generated (not transcribed):
    diagonal s runs (0,s)…(s,0) with odd diagonals descending rows."""
    out = []
    for s in range(15):
        rng = range(s + 1)
        for r in rng if s % 2 == 1 else reversed(rng):
            c = s - r
            if r < 8 and c < 8:
                out.append(r * 8 + c)
    return out


_JPEG_ZZ = _jpeg_zigzag()


def _jpeg_dct_matrix():
    """The orthonormal 8-point DCT-II basis T: F = T·(X−128)·Tᵀ is
    exactly JPEG's ¼·C(u)C(v)ΣΣ…, and the inverse is Tᵀ·F·T."""
    import math

    import numpy as np

    T = np.zeros((8, 8))
    for u in range(8):
        cu = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            T[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return T


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data: un-stuffs
    0xFF00, stops at any non-RST marker, and exposes the byte-aligned
    restart sync the MCU loop calls at DRI boundaries."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.bits: list = []
        self.ended = False

    def _fill(self) -> None:
        if self.ended or self.pos >= len(self.buf):
            self.ended = True
            return
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                # restart marker reached mid-read: the MCU loop must
                # consume it via sync_restart; report end-of-segment
                self.ended = True
                return
            else:
                self.ended = True  # EOI / next segment
                return
        else:
            self.pos += 1
        self.bits.extend((b >> k) & 1 for k in range(7, -1, -1))

    def read_bit(self) -> int:
        if not self.bits:
            self._fill()
            if not self.bits:
                raise ValueError("JPEG entropy data truncated")
        return self.bits.pop(0)

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Consume the byte-aligned RSTn marker between restart
        intervals and re-arm the reader."""
        self.bits.clear()
        self.ended = False
        while self.pos + 1 < len(self.buf):
            if (
                self.buf[self.pos] == 0xFF
                and 0xD0 <= self.buf[self.pos + 1] <= 0xD7
            ):
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: expected restart marker, hit end of data")


def _jpeg_huff_decoder(bits16: list, vals: bytes):
    """Canonical JPEG Huffman table → decode fn. Codes are assigned
    in increasing order within each length, lengths 1..16."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits16[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1

    def decode(rd: "_JpegBitReader") -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | rd.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("JPEG: invalid Huffman code in entropy data")

    return decode


def _jpeg_extend(v: int, size: int) -> int:
    """ITU T.81 EXTEND: map the `size`-bit magnitude field back to the
    signed coefficient."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_decode_block(rd, dc_dec, ac_dec, pred: int, q, T, zz):
    """One entropy-coded 8×8 block → (spatial uint8-range float
    array BEFORE level clip, new DC predictor)."""
    import numpy as np

    coefs = np.zeros(64, dtype=np.float64)
    size = dc_dec(rd)
    pred += _jpeg_extend(rd.receive(size), size)
    coefs[0] = pred
    k = 1
    while k < 64:
        rs = ac_dec(rd)
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run == 15:
                k += 16
                continue
            break  # EOB
        k += run
        coefs[k] = _jpeg_extend(rd.receive(size), size)
        k += 1
    block = np.zeros(64, dtype=np.float64)
    block[zz] = coefs * q
    px = T.T @ block.reshape(8, 8) @ T + 128.0
    return px, pred


def _decode_jpeg_pixels(data: bytes) -> tuple[int, int, int, bytes]:
    """Baseline sequential (SOF0, 8-bit) JPEG → (w, h, c, pixels):
    GRAYSCALE (1 component) and interleaved YCbCr COLOR (3
    components, any integer sampling — 4:4:4 / 4:2:2 / 4:2:0; JFIF
    BT.601 color convert, replicate upsample). Refuses
    (NotImplementedError) anything outside that profile —
    progressive/other SOFs, 12-bit precision, CMYK, non-interleaved
    color scans — so the Pillow-or-refuse contract holds there."""
    import numpy as np

    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, object] = {}
    ac_tabs: dict[int, object] = {}
    w = h = None
    comps: list = []  # (cid, hs, vs, tq) in SOF order
    scan_sel: dict[int, tuple[int, int]] = {}  # cid -> (dc_sel, ac_sel)
    dri = 0
    scan_at = None
    i = 2
    while i + 1 < len(data):
        if data[i] != 0xFF:
            raise ValueError(f"JPEG: expected marker at offset {i}")
        marker = data[i + 1]
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        L = int.from_bytes(data[i + 2 : i + 4], "big")
        seg = data[i + 4 : i + 2 + L]
        if marker == 0xDB:  # DQT, possibly several tables
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq == 0:
                    qt[tq] = np.array(list(seg[j : j + 64]), dtype=np.float64)
                    j += 64
                else:
                    qt[tq] = np.array(
                        [
                            int.from_bytes(seg[j + 2 * k : j + 2 * k + 2], "big")
                            for k in range(64)
                        ],
                        dtype=np.float64,
                    )
                    j += 128
        elif marker == 0xC0:  # SOF0 — the supported frame type
            prec = seg[0]
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            ncomp = seg[5]
            if prec != 8:
                raise NotImplementedError(
                    f"baseline JPEG decoder: {prec}-bit precision "
                    "unsupported — install Pillow"
                )
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"baseline JPEG decoder: {ncomp}-component scans "
                    "(CMYK?) unsupported — install Pillow"
                )
            for ci in range(ncomp):
                cid = seg[6 + 3 * ci]
                hv = seg[7 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 15, seg[8 + 3 * ci]))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"baseline JPEG decoder: SOF{marker - 0xC0} "
                "(progressive/extended) unsupported — install Pillow"
            )
        elif marker == 0xC4:  # DHT, possibly several tables
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits16 = list(seg[j + 1 : j + 17])
                n = sum(bits16)
                vals = bytes(seg[j + 17 : j + 17 + n])
                dec = _jpeg_huff_decoder(bits16, vals)
                (dc_tabs if tc == 0 else ac_tabs)[th] = dec
                j += 17 + n
        elif marker == 0xDD:  # DRI
            dri = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "baseline JPEG decoder: non-interleaved multi-scan "
                    "color unsupported — install Pillow"
                )
            for si in range(ns):
                cid = seg[1 + 2 * si]
                sel = seg[2 + 2 * si]
                scan_sel[cid] = (sel >> 4, sel & 15)
            scan_at = i + 2 + L
            break
        i += 2 + L
    if w is None or scan_at is None or not comps:
        raise ValueError("JPEG: missing SOF0/SOS segments")
    T = _jpeg_dct_matrix()
    zz = _JPEG_ZZ
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {
        cid: np.zeros((my * vs * 8, mx * hs * 8), dtype=np.float64)
        for cid, hs, vs, _tq in comps
    }
    rd = _JpegBitReader(data, scan_at)
    preds = {cid: 0 for cid, *_ in comps}
    for m in range(mx * my):
        if dri and m and m % dri == 0:
            rd.sync_restart()
            preds = {cid: 0 for cid in preds}
        myx, mxx = m // mx, m % mx
        for cid, hs, vs, tq in comps:
            dc_dec = dc_tabs[scan_sel[cid][0]]
            ac_dec = ac_tabs[scan_sel[cid][1]]
            for by in range(vs):
                for bx in range(hs):
                    px, preds[cid] = _jpeg_decode_block(
                        rd, dc_dec, ac_dec, preds[cid], qt[tq], T, zz
                    )
                    r = (myx * vs + by) * 8
                    c = (mxx * hs + bx) * 8
                    planes[cid][r : r + 8, c : c + 8] = px
    if len(comps) == 1:
        out = np.clip(np.round(planes[comps[0][0]]), 0, 255).astype(np.uint8)
        return w, h, 1, out[:h, :w].tobytes()
    # color: replicate-upsample each plane to full MCU-grid resolution,
    # crop, BT.601 inverse convert
    full = {}
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full[cid] = p[:h, :w]
    y_, cb, cr = (full[c[0]] for c in comps)
    r_ = y_ + 1.402 * (cr - 128.0)
    g_ = y_ - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b_ = y_ + 1.772 * (cb - 128.0)
    rgb = np.stack(
        [np.clip(np.round(ch), 0, 255) for ch in (r_, g_, b_)], axis=-1
    ).astype(np.uint8)
    return w, h, 3, rgb.tobytes()


def _jpeg_canonical_table(symbols: list) -> tuple[list, bytes]:
    """A valid DHT for exactly the symbols used: all codes at one
    length L with 2^L − 1 ≥ |S| (the all-ones code stays unused, as
    T.81 requires). → (bits16, vals)."""
    syms = sorted(set(symbols)) or [0]
    L = max(2, (len(syms)).bit_length())
    while (1 << L) - 1 < len(syms):
        L += 1
    bits16 = [0] * 16
    bits16[L - 1] = len(syms)
    return bits16, bytes(syms)


def encode_jpeg_gray(
    width: int,
    height: int,
    payload: bytes,
    *,
    quant: list | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential grayscale JPEG writer — the fixture twin of
    :func:`_decode_jpeg_pixels` (as :func:`encode_png` is for the PNG
    decoder): orthonormal forward DCT, quantization (default all-ones
    — near-lossless, so round-trips assert tight pixel tolerance),
    per-image canonical Huffman tables, optional restart markers."""
    import numpy as np

    if len(payload) != width * height:
        raise ValueError("encode_jpeg_gray: payload size != width*height")
    q = list(quant) if quant is not None else [1] * 64
    if len(q) != 64 or not all(1 <= v <= 255 for v in q):
        raise ValueError("encode_jpeg_gray: quant must be 64 values in 1..255")
    img = np.frombuffer(bytes(payload), dtype=np.uint8).reshape(height, width)
    mx, my = (width + 7) // 8, (height + 7) // 8
    padded = np.zeros((my * 8, mx * 8), dtype=np.float64)
    padded[:height, :width] = img
    if width % 8:
        padded[:height, width:] = padded[:height, width - 1 : width]
    if height % 8:
        padded[height:, :] = padded[height - 1 : height, :]
    qv = np.array(q, dtype=np.float64)

    stream = []
    pred = 0
    rst = 0
    for m in range(mx * my):
        if restart_interval and m and m % restart_interval == 0:
            stream.append(("R", rst))
            rst = (rst + 1) % 8
            pred = 0
        r0, c0 = (m // mx) * 8, (m % mx) * 8
        pred, dc, acs = _jpeg_fdct_block_tokens(
            padded[r0 : r0 + 8, c0 : c0 + 8], qv, pred
        )
        stream.append(("L", dc, acs))
    dc_tab = _jpeg_canonical_table(
        [t[1][0] for t in stream if t[0] != "R"]
    )
    ac_tab = _jpeg_canonical_table(
        [sym for t in stream if t[0] != "R" for sym, _v, _s in t[2]]
    )
    dc_code = _jpeg_canonical_codes(*dc_tab)
    ac_code = _jpeg_canonical_codes(*ac_tab)
    wtr = _JpegBitWriter()
    for tok in stream:
        if tok[0] == "R":
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + tok[1]])
            continue
        _cls, (sz, diff), acs = tok
        ln, cd = dc_code[sz]
        wtr.put(ln, cd)
        if sz:
            wtr.put(sz, diff if diff > 0 else diff + (1 << sz) - 1)
        for sym, v, vsz in acs:
            ln, cd = ac_code[sym]
            wtr.put(ln, cd)
            if vsz:
                wtr.put(vsz, v if v > 0 else v + (1 << vsz) - 1)
    wtr.flush()

    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xDB, bytes([0x00]) + bytes(q))
    out += _jpeg_seg(
        0xC0,
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    out += _jpeg_seg(0xC4, bytes([0x00]) + bytes(dc_tab[0]) + dc_tab[1])
    out += _jpeg_seg(0xC4, bytes([0x10]) + bytes(ac_tab[0]) + ac_tab[1])
    if restart_interval:
        out += _jpeg_seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


class _JpegBitWriter:
    """MSB-first entropy writer with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, length: int, value: int) -> None:
        for k in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> None:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0


def _jpeg_canonical_codes(bits16: list, vals: bytes) -> dict:
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits16[length - 1]):
            out[vals[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_fdct_block_tokens(block, qv, pred: int):
    """Forward-DCT one level-shifted 8×8 block, quantize, zigzag, and
    emit its entropy TOKENS: → (new_pred, dc_token, ac_tokens) with
    dc_token = (size, value) and ac_tokens = [(sym, value, size)]."""
    import numpy as np

    T = _jpeg_dct_matrix()
    F_ = T @ (block - 128.0) @ T.T
    coefs = np.round(F_.reshape(64)[_JPEG_ZZ] / qv).astype(np.int64)
    diff = int(coefs[0]) - pred
    pred = int(coefs[0])
    acs = []
    run = 0
    for k in range(1, 64):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, 0, 0))
            run -= 16
        sz = abs(v).bit_length()
        acs.append(((run << 4) | sz, v, sz))
        run = 0
    if run:
        acs.append((0x00, 0, 0))  # EOB
    return pred, (abs(diff).bit_length(), diff), acs


def encode_jpeg_rgb(
    width: int,
    height: int,
    payload: bytes,
    *,
    quant_luma: list | None = None,
    quant_chroma: list | None = None,
    sampling: int = 2,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential COLOR JPEG writer — interleaved YCbCr with
    luma sampling ``sampling``×``sampling`` (2 = the real-corpus
    4:2:0, 1 = 4:4:4), JFIF BT.601 convert, box-mean chroma
    subsample, per-image canonical Huffman tables (luma + chroma
    classes), optional restart markers. The fixture twin of the color
    leg of :func:`_decode_jpeg_pixels`. ``payload`` is interleaved
    RGB, ``width*height*3`` bytes."""
    import numpy as np

    if len(payload) != width * height * 3:
        raise ValueError("encode_jpeg_rgb: payload size != width*height*3")
    if sampling not in (1, 2):
        raise ValueError("encode_jpeg_rgb: sampling must be 1 or 2")
    ql = list(quant_luma) if quant_luma is not None else [1] * 64
    qc = list(quant_chroma) if quant_chroma is not None else [1] * 64
    for q in (ql, qc):
        if len(q) != 64 or not all(1 <= v <= 255 for v in q):
            raise ValueError("encode_jpeg_rgb: quant must be 64 values in 1..255")
    rgb = (
        np.frombuffer(bytes(payload), dtype=np.uint8)
        .reshape(height, width, 3)
        .astype(np.float64)
    )
    r_, g_, b_ = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y_ = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    cb = -0.168736 * r_ - 0.331264 * g_ + 0.5 * b_ + 128.0
    cr = 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_ + 128.0
    s = sampling
    mx = (width + 8 * s - 1) // (8 * s)
    my = (height + 8 * s - 1) // (8 * s)

    def _pad(plane, ph, pw):
        out = np.zeros((ph, pw), dtype=np.float64)
        h0, w0 = plane.shape
        out[:h0, :w0] = plane
        if w0 < pw:
            out[:h0, w0:] = out[:h0, w0 - 1 : w0]
        if h0 < ph:
            out[h0:, :] = out[h0 - 1 : h0, :]
        return out

    ypad = _pad(y_, my * s * 8, mx * s * 8)
    if s == 2:
        # box-mean 2×2 subsample (pad odd dims by edge replication
        # first so the mean window is always full)
        cpl = []
        for p in (cb, cr):
            p2 = _pad(p, (height + 1) // 2 * 2, (width + 1) // 2 * 2)
            sub = (
                p2[0::2, 0::2] + p2[1::2, 0::2] + p2[0::2, 1::2] + p2[1::2, 1::2]
            ) / 4.0
            cpl.append(_pad(sub, my * 8, mx * 8))
        cbp, crp = cpl
    else:
        cbp, crp = _pad(cb, my * 8, mx * 8), _pad(cr, my * 8, mx * 8)

    qlv = np.array(ql, dtype=np.float64)
    qcv = np.array(qc, dtype=np.float64)
    # one MCU walk producing the token stream (+ restart boundaries)
    stream: list = []  # ("R", rst_idx) or (cls, dc_token, ac_tokens)
    preds = {"Y": 0, "Cb": 0, "Cr": 0}
    rst = 0
    for m in range(mx * my):
        if restart_interval and m and m % restart_interval == 0:
            stream.append(("R", rst))
            rst = (rst + 1) % 8
            preds = {"Y": 0, "Cb": 0, "Cr": 0}
        myx, mxx = m // mx, m % mx
        for by in range(s):
            for bx in range(s):
                r0, c0 = (myx * s + by) * 8, (mxx * s + bx) * 8
                preds["Y"], dc, acs = _jpeg_fdct_block_tokens(
                    ypad[r0 : r0 + 8, c0 : c0 + 8], qlv, preds["Y"]
                )
                stream.append(("L", dc, acs))
        for name, plane in (("Cb", cbp), ("Cr", crp)):
            r0, c0 = myx * 8, mxx * 8
            preds[name], dc, acs = _jpeg_fdct_block_tokens(
                plane[r0 : r0 + 8, c0 : c0 + 8], qcv, preds[name]
            )
            stream.append(("C", dc, acs))
    # canonical tables per (class, dc/ac)
    dc_syms = {"L": [], "C": []}
    ac_syms = {"L": [], "C": []}
    for tok in stream:
        if tok[0] == "R":
            continue
        cls, dc, acs = tok
        dc_syms[cls].append(dc[0])
        ac_syms[cls].extend(sym for sym, _v, _s in acs)
    tabs = {}
    for cls in ("L", "C"):
        tabs[("dc", cls)] = _jpeg_canonical_table(dc_syms[cls])
        tabs[("ac", cls)] = _jpeg_canonical_table(ac_syms[cls])
    codes = {k: _jpeg_canonical_codes(*v) for k, v in tabs.items()}
    wtr = _JpegBitWriter()
    for tok in stream:
        if tok[0] == "R":
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + tok[1]])
            continue
        cls, (sz, diff), acs = tok
        ln, cd = codes[("dc", cls)][sz]
        wtr.put(ln, cd)
        if sz:
            wtr.put(sz, diff if diff > 0 else diff + (1 << sz) - 1)
        for sym, v, vsz in acs:
            ln, cd = codes[("ac", cls)][sym]
            wtr.put(ln, cd)
            if vsz:
                wtr.put(vsz, v if v > 0 else v + (1 << vsz) - 1)
    wtr.flush()

    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(0xDB, bytes([0x00]) + bytes(ql))
    out += _jpeg_seg(0xDB, bytes([0x01]) + bytes(qc))
    out += _jpeg_seg(
        0xC0,
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([3, 1, (s << 4) | s, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    out += _jpeg_seg(0xC4, bytes([0x00]) + bytes(tabs[("dc", "L")][0]) + tabs[("dc", "L")][1])
    out += _jpeg_seg(0xC4, bytes([0x01]) + bytes(tabs[("dc", "C")][0]) + tabs[("dc", "C")][1])
    out += _jpeg_seg(0xC4, bytes([0x10]) + bytes(tabs[("ac", "L")][0]) + tabs[("ac", "L")][1])
    out += _jpeg_seg(0xC4, bytes([0x11]) + bytes(tabs[("ac", "C")][0]) + tabs[("ac", "C")][1])
    if restart_interval:
        out += _jpeg_seg(0xDD, restart_interval.to_bytes(2, "big"))
    out += _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def _decode_blob(data: bytes) -> tuple[int, int, int, float]:
    """→ (width, height, channels, mean pixel/payload byte).

    Dispatch is by container magic, not by which library imports: PNG
    decodes for REAL via the vendored :func:`_decode_png` (identical
    behavior whether or not Pillow is installed); other real
    containers (JPEG/GIF/BMP/RIFF prefixes) decode with Pillow or
    raise a crisp NotImplementedError when it is absent — they are
    NEVER fed to the fake codec. Blobs without an image magic use the
    deterministic fake codec (see module CODEC NOTICE). Thin mean-
    wrapper over :func:`_pixels_blob`, which owns the dispatch."""
    w, h, c, px = _pixels_blob(data)
    mean = sum(px) / len(px) if px else 0.0
    return w, h, c, mean


def _pixels_blob(data: bytes) -> tuple[int, int, int, bytes]:
    """→ (width, height, channels, raw pixel bytes), same magic
    dispatch as :func:`_decode_blob`: PNG via the vendored decoder —
    with exotic PNG shapes (16-bit, interlaced) falling back to
    Pillow when it IS installed, so the vendored subset never makes a
    previously-decodable input crash — other real containers via
    Pillow-or-refuse, fake-codec blobs from the header-dimensioned
    payload."""
    data = bytes(data)
    if data.startswith(b"\x89PNG"):
        try:
            return _decode_png_pixels(data)
        except NotImplementedError:
            if _PILImage is None:
                raise
            # fall through to the Pillow branch below
    if data.startswith(b"\xff\xd8"):
        try:
            return _decode_jpeg_pixels(data)
        except NotImplementedError:
            if _PILImage is None:
                raise
            # exotic profile (color/progressive/12-bit): Pillow below
        except ValueError as exc:
            # structurally unparseable by the baseline decoder: Pillow
            # (more tolerant, more profiles) may still decode it — and
            # without Pillow the crisp refusal contract holds (the
            # pre-codec behavior for every non-PNG container)
            if _PILImage is None:
                raise NotImplementedError(
                    "baseline JPEG decoder rejected the blob "
                    f"({exc}) and no Pillow is available in this "
                    "environment — install Pillow to ATTEMPT a more "
                    "tolerant decode (genuinely malformed data will "
                    "still fail there)"
                ) from exc
    if _is_real_image(data):
        if _PILImage is None:
            raise NotImplementedError(
                "blob has a real image container magic but no codec is "
                "available in this environment — install Pillow, or use "
                "synthetic_media()'s fake-codec blobs"
            )
        import io

        img = _PILImage.open(io.BytesIO(data))
        px = list(img.getdata())
        flat = bytes(v for p in px for v in (p if isinstance(p, tuple) else (p,)))
        return img.width, img.height, len(img.getbands()), flat
    w = data[0] * 256 + data[1]
    h = data[2] * 256 + data[3]
    c = data[4]
    return w, h, c, data[_HEADER:]


PHASH_SCHEMA = "media_id bigint, phash string"


def _ahash(w: int, h: int, c: int, px: bytes) -> str:
    """64-bit average-hash over an 8×8 block grid, ALL-INTEGER so the
    bits are engine-exact: per-pixel gray is the channel SUM (no
    division), each pixel lands in block (y*8//h, x*8//w), and the
    mean-threshold compare is cross-multiplied — bit = 1 iff
    S_block · N_total > T_total · n_block — so no float ever enters.
    Requires w ≥ 8 and h ≥ 8 (a thumbnail smaller than the grid has
    empty blocks and no meaningful perceptual hash)."""
    import numpy as np

    if w < 8 or h < 8:
        raise ValueError(f"_ahash: image {w}x{h} smaller than the 8x8 grid")
    a = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w, c)
    gray = a.sum(axis=2)
    total = int(gray.sum())
    n_px = w * h
    r_idx = (np.arange(h) * 8) // h
    c_idx = (np.arange(w) * 8) // w
    bits = []
    for r in range(8):
        rows = gray[r_idx == r]
        for cb in range(8):
            block = rows[:, c_idx == cb]
            bits.append("1" if int(block.sum()) * n_px > total * block.size else "0")
    return "".join(bits)


def perceptual_hash(df: DataFrame) -> DataFrame:
    """Per-blob perceptual fingerprint (aHash) via Arrow-batched
    mapInPandas — the image near-dup primitive: visually identical
    media collide on the 64-bit hash (and near-misses differ in few
    bits, so a Hamming prefilter composes exactly like v6 does for
    embeddings). Pixels are decoded and reduced INSIDE the Python
    worker; only (media_id, 64-char bit string) ever shuffles."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            hashes = [_ahash(*_pixels_blob(bytes(d))) for d in b["data"]]
            yield pd.DataFrame({"media_id": b["media_id"], "phash": hashes})

    return df.mapInPandas(run, PHASH_SCHEMA)


def decode_media(df: DataFrame) -> DataFrame:
    """Decode each blob to typed features via Arrow-batched mapInPandas
    (one Python roundtrip per partition batch, never per row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            decoded = [_decode_blob(bytes(d)) for d in b["data"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "channels": [d[2] for d in decoded],
                    "mean_byte": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(run, DECODED_SCHEMA)


def extract_features(df: DataFrame, bins: int = 16) -> DataFrame:
    """Per-blob feature extraction (the feature-extract stage of a
    media training pipeline): payload length, normalized byte
    histogram and byte-entropy, vectorized with numpy over Arrow
    batches — one ``np.bincount`` per blob, no per-byte Python.

    The features are codec-independent (raw payload bytes), so this
    stage is REAL even while the pixel codec is stubbed: swapping in
    a decoder only changes what bytes arrive here. Real-container
    blobs (PNG/JPEG/... magic) contribute their FULL byte stream —
    the 5-byte strip is the fake codec's header, not theirs. Narrow
    transform — blobs never shuffle; downstream aggregations move
    only the small (id, features) rows. ``bins`` must divide 256 —
    otherwise the top bytes would silently fall out of the histogram."""
    import numpy as np

    if 256 % bins != 0:
        raise ValueError(f"extract_features: bins={bins} must divide 256")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            n_bytes, ents, hists = [], [], []
            for d in b["data"]:
                raw = bytes(d)
                payload = np.frombuffer(raw, dtype=np.uint8)
                if not _is_real_image(raw):
                    payload = payload[_HEADER:]
                n = len(payload)
                counts = (
                    np.bincount(payload // (256 // bins), minlength=bins)[:bins]
                    if n
                    else np.zeros(bins)
                )
                p = counts / n if n else counts
                nz = p[p > 0]
                ents.append(float(-(nz * np.log2(nz)).sum()) if n else 0.0)
                hists.append([float(x) for x in p])
                n_bytes.append(n)
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"],
                    "n_bytes": n_bytes,
                    "byte_entropy": ents,
                    "hist": hists,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """'Resize' every blob (fake codec: rewrite the header and truncate /
    pad the payload to w*h*c bytes) — same schema in as out, narrow
    transform, blobs stay on their partitions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for d in b["data"]:
                d = bytes(d)
                if _is_real_image(d):
                    # rewriting a real container's first bytes as a fake
                    # header would strip its magic and silently route the
                    # output to the fake codec downstream
                    raise NotImplementedError(
                        "resize_media operates on fake-codec blobs; decode "
                        "real containers to pixels first"
                    )
                c = d[4]
                need = width * height * c
                payload = (d[_HEADER:] * ((need // max(len(d) - _HEADER, 1)) + 1))[:need]
                out.append(
                    bytes([width // 256, width % 256, height // 256, height % 256, c])
                    + payload
                )
            b = b.assign(data=out)
            yield b

    return df.mapInPandas(run, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, frame_bytes: int = 64, every_n: int = 2) -> DataFrame:
    """Frame sampling for video blobs: split the payload into fixed-size
    'frames', keep every n-th → one row per sampled frame. The explode
    happens inside the Arrow batch — output rows stay partition-local."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, nos, frames = [], [], []
            for mid, d in zip(b["media_id"], b["data"]):
                d = bytes(d)
                if _is_real_image(d):
                    raise NotImplementedError(
                        "sample_frames operates on fake-codec blobs; real "
                        "video containers need a demuxer, not a byte split"
                    )
                payload = d[_HEADER:]
                n_frames = len(payload) // frame_bytes
                for f in range(0, n_frames, every_n):
                    ids.append(mid)
                    nos.append(f)
                    frames.append(payload[f * frame_bytes : (f + 1) * frame_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_no": nos, "frame": frames})

    return df.mapInPandas(run, FRAME_SCHEMA)


class MediaIndex:
    """Build-once, share-everywhere perceptual-dedup index — the media
    member of the engine's index family (textops.DedupIndex for text,
    vectorops.VectorIndex for embeddings; reference parity target:
    the m6/m7/m9 pipeline over `/root/reference` has no incremental
    form at all — this is the engine's extension surface).

    The image near-dup pipeline's expensive substrates — the
    Arrow-batched decode + 64-bit aHash, the verified Hamming-≤R pair
    set, and the connected-component cluster labels — are consumed by
    several downstream operators (bucket rollups, near-dup pair
    listings, cluster canonicalization). Rebuilding them per consumer
    multiplies the decode cost, the dominant term at 100 TB of media.
    This class materializes each stage ONCE (lazy build + pinned
    localCheckpoint in-session; parquet via :meth:`save` across
    sessions) and every consumer reads it.

    Stage DAG: ``phash`` → ``pairs`` → ``clusters``; the band frame is
    a four-substring VIEW of ``phash`` (recomputing it costs nothing
    over the checkpointed hashes, so unlike DedupIndex.bands it is
    never persisted).

    Mining is the m7 design: ``n_bands`` bit-sampling LSH over the
    64-bit hashes — by pigeonhole, any pair within Hamming ≤
    (n_bands - 1) has at least one error-free band, so exact band
    match is a GUARANTEED-recall candidate index at ``max_hamming`` ≤
    n_bands - 1 — then exact Hamming verification over candidates
    only. |media| × n_bands small rows shuffle; the all-pairs product
    is never formed.

    INCREMENTAL contract (the t34/v16/t38 pattern): the stored
    ``phash`` rows are CONTENT-COMPLETE for verification — unlike
    DedupIndex (which must re-read touched old documents' text),
    Hamming verification needs only the two 64-bit hashes, both in
    the index — so :meth:`update` never touches old media bytes at
    all: the delta is decoded/hashed (the only Arrow stage), its
    bands join the merged band view for new candidates (old×old pairs
    cannot change), verification reads stored hashes, and cluster
    labels re-propagate seeded from the old labels as star edges.
    ``update(delta)`` equals ``build(old ∪ delta)`` stage-for-stage
    (test-asserted; oracle-gated as m10)."""

    _STAGES = ("phash", "pairs", "clusters")
    _META_SCHEMA = (
        "id_col string, n_bands int, max_hamming int, max_band_size int, "
        "max_id bigint, n_retractions int"
    )

    def __init__(
        self,
        media: DataFrame,
        id_col: str = "media_id",
        *,
        n_bands: int = 4,
        max_hamming: int = 3,
        max_band_size: int | None = None,
    ) -> None:
        if 64 % n_bands != 0:
            raise ValueError(f"MediaIndex: n_bands={n_bands} must divide 64")
        if max_hamming > n_bands - 1:
            raise ValueError(
                f"MediaIndex: max_hamming={max_hamming} breaks the pigeonhole "
                f"recall guarantee for n_bands={n_bands} (need ≤ {n_bands - 1})"
            )
        self._df = media
        self._id_col = id_col
        self._n_bands = n_bands
        self._max_hamming = max_hamming
        # the skew guard (textops._cap_band_groups): structured or
        # near-duplicate-heavy media can pile thousands of hashes into
        # one band bucket, making the candidate self-join quadratic in
        # the hot group (measured: 12.8k formula-generated blobs
        # produced 1.8M candidate expansions). None = exact mining
        # (the pigeonhole recall guarantee holds unconditionally);
        # capped groups stop yielding pairs — the same documented
        # monotone trade as DedupIndex(max_band_size=...)
        self._max_band_size = max_band_size
        for stage in self._STAGES:
            setattr(self, f"_{stage}", None)
        self.builds: dict[str, int] = dict.fromkeys(self._STAGES, 0)
        self.updates = 0
        self.max_id: int | None = None  # set by save()/load()/append_saved()
        # retraction state (round 9, the DedupIndex protocol)
        self.n_retractions = 0
        self._retracted_ids: DataFrame | None = None
        self._tomb_delta: DataFrame | None = None

    def _hash_media(self, media: DataFrame) -> DataFrame:
        return perceptual_hash(
            media.select(F.col(self._id_col).alias("media_id"), "data")
        )

    @property
    def phash(self) -> DataFrame:
        """(media_id, 64-char bit string) — the decoded fingerprint
        substrate, the ONLY stage that touches media bytes. Eager
        checkpoint: the pair mining self-joins the derived band view,
        and a lazy checkpoint would run the Arrow decode twice."""
        if self._phash is None:
            if self._df is None:
                raise ValueError(
                    "MediaIndex.phash: a load()-ed index has no corpus to "
                    "rebuild from — the stage directory is missing on disk"
                )
            self.builds["phash"] += 1
            self._phash = self._hash_media(self._df).localCheckpoint()
        return self._phash

    def _band_view(self, ph: DataFrame) -> DataFrame:
        """(media_id, band, key): the n_bands bit-sampling LSH keys —
        a pure substring view over a hash frame, derived on demand."""
        width = 64 // self._n_bands
        return ph.select(
            "media_id",
            F.posexplode(
                F.array(
                    *[
                        F.substring("phash", 1 + width * b, width)
                        for b in range(self._n_bands)
                    ]
                )
            ).alias("band", "key"),
        )

    @staticmethod
    def _hamming() -> Column:
        # bit_count(xor) over the bit string's two 32-bit halves —
        # whole-stage-codegen integer arithmetic. The earlier
        # split/zip_with/aggregate form computes the same VALUES (all
        # the oracle hash parity compares — the m7 DuckDB twin stays
        # char-wise) but higher-order functions are interpreted per
        # element: ~130 lambda evaluations per pair made it the
        # straggler at 700k candidate pairs (a >10 min single task on
        # the adversarial 12.8k-blob corpus; this form verifies the
        # same set in seconds)
        def half(c: str, lo: int) -> Column:
            # bits [lo, lo+32) as a long — 32-bit halves so the
            # unsigned top bit of a 64-bit hash cannot overflow the
            # signed long conv() returns through
            return F.conv(F.substring(c, lo + 1, 32), 2, 10).cast("long")

        return (
            F.bit_count(half("pa", 0).bitwiseXOR(half("pb", 0)))
            + F.bit_count(half("pa", 32).bitwiseXOR(half("pb", 32)))
        ).cast("long")

    def _verify(self, cand_ids: DataFrame, ph: DataFrame) -> DataFrame:
        """Exact-Hamming verification of candidate id pairs against the
        stored hashes → (id_a, id_b, hamming ≤ max_hamming)."""
        cand = cand_ids.join(
            ph.select(F.col("media_id").alias("id_a"), F.col("phash").alias("pa")),
            "id_a",
        ).join(
            ph.select(F.col("media_id").alias("id_b"), F.col("phash").alias("pb")),
            "id_b",
        )
        return (
            cand.withColumn("hamming", self._hamming())
            .filter(F.col("hamming") <= self._max_hamming)
            .select("id_a", "id_b", "hamming")
        )

    @property
    def pairs(self) -> DataFrame:
        """Verified near-dup pairs (id_a < id_b, hamming ≤ R) — m7's
        output, stored with the exact distance for rollups."""
        if self._pairs is None:
            from .textops import _cap_band_groups

            self.builds["pairs"] += 1
            bands = _cap_band_groups(
                self._band_view(self.phash), self._max_band_size
            )
            cand_ids = (
                bands.alias("a")
                .join(
                    bands.alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.media_id") < F.col("b.media_id")),
                )
                .select(
                    F.col("a.media_id").alias("id_a"),
                    F.col("b.media_id").alias("id_b"),
                )
                .distinct()
            )
            self._pairs = self._verify(cand_ids, self.phash).localCheckpoint(
                eager=False
            )
        return self._pairs

    @property
    def clusters(self) -> DataFrame:
        """Connected-component labels (id, cluster = min member id)
        over the verified pairs — the view a curation pipeline keeps
        one image per; checkpointed by construction (every propagation
        round of connected_components checkpoints)."""
        if self._clusters is None:
            from .textops import connected_components

            self.builds["clusters"] += 1
            self._clusters = connected_components(
                self.pairs.select("id_a", "id_b")
            )
        return self._clusters

    def update(self, new_media: DataFrame) -> "MediaIndex":
        """Merge a media delta WITHOUT rebuilding — the daily-delta
        pattern: only the delta is decoded/hashed (the one Arrow
        stage); new candidate pairs come from the delta's bands joined
        against the MERGED band view (old×old pairs cannot change);
        verification reads stored hashes only — never old media bytes
        (see class docstring: the phash stage is content-complete);
        cluster labels re-propagate seeded from the old labels as
        star edges (member → label), O(log delta-diameter) rounds over
        |stars| + |new pairs| edges. Delta ids must be disjoint from
        indexed ids (append-only contract — a re-ingested id would
        duplicate its hash row). Mutates and returns ``self``;
        ``update(delta)`` == ``build(old ∪ delta)`` stage-for-stage."""
        from .textops import _cap_band_groups, connected_components

        if self._retracted_ids is not None:
            n_dead = (
                new_media.select(F.col(self._id_col).alias("id"))
                .join(F.broadcast(self._retracted_ids), "id", "left_semi")
                .count()
            )
            if n_dead:
                raise ValueError(
                    f"MediaIndex.update: {n_dead} delta id(s) collide with "
                    "retracted ids — a retracted id stays dead (the "
                    "tombstone filter would hide the re-ingested rows); "
                    "allocate fresh ids for re-added content"
                )

        old_ph = self.phash
        old_pairs = self.pairs
        new_ph = self._hash_media(new_media).localCheckpoint()
        merged_ph = old_ph.unionByName(new_ph).localCheckpoint(eager=False)
        # with a cap, re-evaluate it over the MERGED band groups for
        # new pairs (mined pairs are never retracted — the DedupIndex
        # monotone-superset contract); the equi-join below already
        # confines the delta's bands to surviving groups, so no
        # delta-side pre-filter is needed
        capped = _cap_band_groups(
            self._band_view(merged_ph), self._max_band_size
        )
        cand_ids = (
            self._band_view(new_ph)
            .alias("a")
            .join(
                capped.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.media_id") != F.col("b.media_id")),
            )
            .select(
                F.least(F.col("a.media_id"), F.col("b.media_id")).alias("id_a"),
                F.greatest(F.col("a.media_id"), F.col("b.media_id")).alias("id_b"),
            )
            .distinct()
        )
        new_pairs = self._verify(cand_ids, merged_ph).localCheckpoint(eager=False)
        if self._clusters is not None:
            stars = self._clusters.select(
                F.col("id").alias("id_a"), F.col("cluster").alias("id_b")
            )
            self._clusters = connected_components(
                stars.unionByName(new_pairs.select("id_a", "id_b"))
            )
        self._phash = merged_ph
        self._pairs = old_pairs.unionByName(new_pairs).localCheckpoint(eager=False)
        self._df = (
            self._df.unionByName(
                new_media.select(*self._df.columns), allowMissingColumns=True
            )
            if self._df is not None
            else None
        )
        # kept for append_saved: phash/pairs are append-only (grow by
        # exactly these rows); clusters is the one non-monotone stage
        # ACCUMULATED across chained update() calls (round 9, family-
        # wide fix): append_saved lands the pending delta once —
        # keeping only the last one would silently drop earlier
        # deltas' rows while the meta stamp covers their ids
        prev = getattr(self, "_delta", None)
        if prev:
            new_ph = prev["phash"].unionByName(new_ph)
            new_pairs = prev["pairs"].unionByName(new_pairs)
        self._delta = {"phash": new_ph, "pairs": new_pairs}
        self.updates += 1
        return self

    def retract(self, ids: DataFrame) -> "MediaIndex":
        """Remove media items — the media member of the retraction
        family (``DedupIndex.retract`` applied to the perceptual
        index, and like it needing NO media bytes: the phash stage is
        content-complete the same way it is for updates). The monotone
        stages filter by a broadcast anti-join; the cluster stage
        re-runs connected components over exactly the AFFECTED
        clusters' surviving pairs — a retracted bridge image SPLITS
        its cluster, the case a label filter cannot express.
        ``retract(r)`` equals ``build(corpus ∖ r)`` stage-for-stage
        under exact mining (oracle-gated, m12); with ``max_band_size``
        set the documented monotone cap semantics carry over. Double
        retraction and reuse are refused. Mutates and returns
        ``self``; :meth:`retract_saved` lands the delta."""
        from .textops import connected_components

        t = (
            ids.select(F.col(ids.columns[0]).cast("long").alias("id"))
            .distinct()
            .localCheckpoint()
        )
        n_t = t.count()
        if n_t == 0:
            # mirror RepeatIndex._retract_unfenced's n_ids==0 branch:
            # an empty delta is a no-op, not an int(None) TypeError
            # from the high-water-mark aggregate below
            return self
        if self._retracted_ids is not None:
            n_dead = t.join(
                F.broadcast(self._retracted_ids), "id", "left_semi"
            ).count()
            if n_dead == n_t:
                # full replay of an already-retracted set — idempotent:
                # no mutation, and NOT unioned into _tomb_delta (the
                # ids are committed; unioning would make a later
                # retract_saved refuse on partial ledger overlap when
                # genuine new ids are also pending) — the flag lets
                # retract_saved skip when the replay is all there is
                self._tomb_replayed = True
                return self
            if n_dead:
                raise ValueError(
                    f"MediaIndex.retract: {n_dead} id(s) were already "
                    "retracted — double deletion would re-filter and "
                    "re-label against wrong state"
                )
        if self.max_id is not None:
            hi = t.agg(F.max("id")).first()[0]
            if int(hi) > int(self.max_id):
                raise ValueError(
                    "MediaIndex.retract: delta contains id(s) above the "
                    f"indexed high-water mark {self.max_id} — never "
                    "ingested into this index"
                )
        elif self._df is not None:
            row = self._df.agg(F.max(self._id_col)).first()
            self.max_id = None if row[0] is None else int(row[0])
        if self._phash is not None:
            self._phash = self._phash.join(
                F.broadcast(t.withColumnRenamed("id", "media_id")),
                "media_id",
                "left_anti",
            ).select("media_id", "phash")
        if self._pairs is not None:
            self._pairs = self._pairs.join(
                F.broadcast(t.withColumnRenamed("id", "id_a")),
                "id_a",
                "left_anti",
            ).join(
                F.broadcast(t.withColumnRenamed("id", "id_b")),
                "id_b",
                "left_anti",
            ).select("id_a", "id_b", "hamming")
        if self._clusters is not None:
            if self._pairs is None:
                raise ValueError(
                    "MediaIndex.retract: the clusters stage is loaded but "
                    "pairs is missing — the affected clusters cannot be "
                    "re-labeled"
                )
            lbl = self._clusters
            aff = (
                lbl.join(F.broadcast(t), "id", "left_semi")
                .select("cluster")
                .distinct()
            )
            keepers = lbl.join(aff, "cluster", "left_anti").select(
                "id", "cluster"
            )
            aff_members = lbl.join(aff, "cluster", "left_semi").select("id")
            sub_edges = self._pairs.select("id_a", "id_b").join(
                aff_members.withColumnRenamed("id", "id_a"),
                "id_a",
                "left_semi",
            )
            relabeled = connected_components(sub_edges)
            self._clusters = keepers.unionByName(relabeled).localCheckpoint(
                eager=False
            )
        if self._df is not None:
            self._df = self._df.join(
                t.withColumnRenamed("id", self._id_col),
                self._id_col,
                "left_anti",
            )
        self._retracted_ids = (
            t
            if self._retracted_ids is None
            else self._retracted_ids.unionByName(t).localCheckpoint(
                eager=False
            )
        )
        self._tomb_delta = (
            t
            if self._tomb_delta is None
            else self._tomb_delta.unionByName(t).localCheckpoint(eager=False)
        )
        return self

    def retract_saved(self, path: str) -> None:
        """Land the pending :meth:`retract` delta under the
        retraction-sequence commit (the family protocol — see
        ``DedupIndex.retract_saved``): ledger rows first at
        ``rseq = k+1``, the relabeled clusters overwrite (the stage
        ``append_saved`` already rewrites wholesale), meta commits
        last. Readers filter by the COMMITTED ledger, so every crash
        prefix leaves the monotone views pre-retract; the same-ids
        replay purges its uncommitted rows, re-derives clusters from
        the filtered pairs (drop-don't-trust), and re-lands; a
        committed replay skips. Single-writer-fenced."""
        if self._tomb_delta is None:
            if getattr(self, "_tomb_replayed", False):
                # the only pending retract() was a full replay of
                # already-committed ids — idempotent skip
                self._tomb_replayed = False
                return
            raise ValueError(
                "MediaIndex.retract_saved: no retract() delta to land — "
                "call retract(ids) first"
            )
        from .lease import dir_lease

        with dir_lease(path, role="MediaIndex.retract_saved"):
            self._retract_saved_locked(path)
        self._tomb_replayed = False

    def _retract_saved_locked(self, path: str) -> None:
        from .textops import connected_components

        spark = self._tomb_delta.sparkSession
        m = storage.read_control_row(f"{path}/meta")
        stamp = m.get("max_id")
        if stamp is None:
            raise ValueError(
                "MediaIndex.retract_saved: the saved index has no max_id "
                "high-water mark — re-save() the index before retracting"
            )
        n_r = int(m.get("n_retractions") or 0)
        ids = self._tomb_delta
        row = ids.agg(
            F.count(F.lit(1)).alias("n"), F.max("id").alias("hi")
        ).first()
        if row["hi"] is None:
            self._tomb_delta = None
            return
        if int(row["hi"]) > int(stamp):
            raise ValueError(
                "MediaIndex.retract_saved: delta contains id(s) above the "
                f"saved high-water mark {stamp} — never ingested"
            )
        led_path = f"{path}/retracted"
        replay_torn = False
        committed_full = None
        if storage.parquet_dir_exists(led_path):
            storage.recover_swapped_dir(led_path)
            led = spark.read.parquet(led_path)
            unc = led.filter(F.col("rseq") > n_r).select("id").distinct()
            if unc.limit(1).count():
                if (
                    unc.join(ids, "id", "left_anti").limit(1).count()
                    or ids.join(unc, "id", "left_anti").limit(1).count()
                ):
                    raise ValueError(
                        "MediaIndex.retract_saved: uncommitted ledger rows "
                        "from a DIFFERENT torn retraction are on disk — "
                        "replay that retraction (same ids) before this one"
                    )
                replay_torn = True
            committed_full = led.filter(F.col("rseq") <= n_r)
            n_in = ids.join(
                committed_full.select("id"), "id", "left_semi"
            ).count()
            if n_in == int(row["n"]):
                self._tomb_delta = None
                return
            if n_in:
                raise ValueError(
                    f"MediaIndex.retract_saved: {n_in} of {row['n']} delta "
                    "id(s) are already retracted on disk — retract only "
                    "new ids"
                )
        fresh = ids.select(
            "id", F.lit(n_r + 1).cast("bigint").alias("rseq")
        )
        if replay_torn and self._pairs is not None:
            # drop-don't-trust: the crashed attempt may have torn the
            # clusters overwrite — re-derive from the filtered pairs
            self._clusters = connected_components(
                self._pairs.select("id_a", "id_b")
            )
        if not replay_torn:
            # fresh landing: uncommitted ledger rows go down FIRST —
            # they signal a crash tearing the clusters overwrite below
            fresh.write.mode("append").parquet(led_path)
        if self._clusters is not None:
            # EAGER pin before the overwrite — the relabel plan reads
            # this very directory
            self._clusters = self._clusters.localCheckpoint()
            self._clusters.write.mode("overwrite").parquet(
                f"{path}/clusters"
            )
        if replay_torn:
            # replay: the torn attempt's own uncommitted rows already
            # signal the tear, so clusters were repaired FIRST and the
            # ledger rewrites LAST — one atomic swap to committed ∪
            # fresh. An earlier purge would erase the only signal
            # while torn clusters persist (the round-9 ADVICE window).
            storage.rewrite_parquet_dir(
                spark,
                led_path,
                committed_full.unionByName(fresh),
                1 << 20,
            )
        self.max_id = int(stamp)
        self.n_retractions = n_r + 1
        self._write_meta(path)
        self._tomb_delta = None

    def save(self, path: str) -> None:
        """Persist all stages + meta under ``path`` (forces any
        not-yet-built stage) — the cross-session form. Meta records
        the frozen mining params and the media-id high-water mark (the
        idempotence anchor for streamed ingestion)."""
        for stage in self._STAGES:
            getattr(self, stage).write.mode("overwrite").parquet(f"{path}/{stage}")
        hi = self.phash.agg(F.max("media_id")).first()[0]
        if self.max_id is not None:
            # never shrink: a retraction may have removed the max-id
            # item, but its id stays allocated
            hi = self.max_id if hi is None else max(int(hi), self.max_id)
        self.max_id = None if hi is None else int(hi)
        if self._retracted_ids is not None:
            self._retracted_ids.select(
                "id", F.lit(0).cast("bigint").alias("rseq")
            ).write.mode("overwrite").parquet(f"{path}/retracted")
        elif storage.parquet_dir_exists(f"{path}/retracted"):
            import shutil

            shutil.rmtree(storage.local_path(f"{path}/retracted"))
        self.n_retractions = 0
        self._write_meta(path)

    def _write_meta(self, path: str) -> None:
        storage.write_control_parquet(
            f"{path}/meta",
            [
                (
                    self._id_col,
                    self._n_bands,
                    self._max_hamming,
                    self._max_band_size,
                    self.max_id,
                    int(self.n_retractions),
                )
            ],
            self._META_SCHEMA,
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MediaIndex":
        """Re-open a :meth:`save`-d index: serves the parquet frames
        directly (build counters stay 0, no media bytes needed — and
        because the phash stage is content-complete, a loaded index
        even absorbs :meth:`update` deltas without the old corpus)."""
        idx = cls.__new__(cls)
        idx._df = None
        m = storage.read_control_row(f"{path}/meta")
        idx._id_col = m["id_col"]
        idx._n_bands = m["n_bands"]
        idx._max_hamming = m["max_hamming"]
        # metas saved before the skew cap existed load uncapped
        idx._max_band_size = m.get("max_band_size")
        hi = m["max_id"]
        idx.max_id = None if hi is None else int(hi)
        for stage in cls._STAGES:
            setattr(
                idx, f"_{stage}",
                storage.read_parquet_pinned(spark, f"{path}/{stage}"),
            )
        idx.builds = dict.fromkeys(cls._STAGES, 0)
        idx.updates = 0
        idx.n_retractions = int(m.get("n_retractions") or 0)
        idx._retracted_ids = None
        idx._tomb_delta = None
        if storage.parquet_dir_exists(f"{path}/retracted"):
            t = (
                storage.read_parquet_pinned(spark, f"{path}/retracted")
                .filter(F.col("rseq") <= idx.n_retractions)
                .select("id")
                .distinct()
            )
            if t.first() is not None:
                # committed retractions filter the monotone stages at
                # load (broadcast anti-joins); clusters were rewritten
                # by retract_saved and already exclude them
                t = t.localCheckpoint()
                idx._retracted_ids = t
                idx._phash = idx._phash.join(
                    F.broadcast(t.withColumnRenamed("id", "media_id")),
                    "media_id",
                    "left_anti",
                ).select("media_id", "phash")
                idx._pairs = idx._pairs.join(
                    F.broadcast(t.withColumnRenamed("id", "id_a")),
                    "id_a",
                    "left_anti",
                ).join(
                    F.broadcast(t.withColumnRenamed("id", "id_b")),
                    "id_b",
                    "left_anti",
                ).select("id_a", "id_b", "hamming")
        return idx

    def append_saved(self, path: str) -> None:
        """Merge the LAST :meth:`update`'s delta into a :meth:`save`-d
        directory WITHOUT rewriting the monotone stages: ``phash`` and
        ``pairs`` grow by exactly the delta rows (O(delta) appends);
        ``clusters`` is the one non-monotone stage (a delta bridge
        relabels merged components) and is rewritten. Meta's
        ``max_id`` high-water mark advances. The in-memory object is
        STALE afterwards (its merged frames captured pre-append file
        listings); re-``load`` to keep serving.

        Write ORDER is the crash contract: the delta's pairs and the
        relabeled clusters are materialized in memory FIRST (their
        lazy plans read the pre-append phash file listings), then the
        WITNESS stage ``phash`` is appended before the derived stages
        — so any crash after phash landed is detectable (rows above
        the meta stamp) and repairable by re-deriving pairs/clusters
        from the stored hashes (:meth:`repair_saved`; phash is
        content-complete, so they are pure functions of it), while a
        crash BEFORE phash landed leaves no trace and the replayed
        batch re-runs cleanly.
        Single-writer-fenced (see :mod:`.lease`): a concurrent
        compact/vacuum on the same directory is refused loudly instead
        of racing the rename-aside swap."""
        if not getattr(self, "_delta", None):
            raise ValueError(
                "MediaIndex.append_saved: no update() delta to append — "
                "call update(new_media) first"
            )
        from .lease import dir_lease

        with dir_lease(path, role="MediaIndex.append_saved"):
            self._append_saved_locked(path)

    def _append_saved_locked(self, path: str) -> None:
        if storage.parquet_dir_exists(f"{path}/retracted"):
            # sync the retraction sequence so the trailing meta rewrite
            # never clobbers committed retractions; refuse to
            # interleave with a torn retraction (its replay owns the
            # purge)
            m = storage.read_control_row(f"{path}/meta")
            self.n_retractions = int(m.get("n_retractions") or 0)
            spark = self._delta["phash"].sparkSession
            if (
                storage.read_parquet_pinned(spark, f"{path}/retracted")
                .filter(F.col("rseq") > self.n_retractions)
                .limit(1)
                .count()
            ):
                raise ValueError(
                    "MediaIndex.append_saved: uncommitted retraction "
                    "ledger rows on disk — replay that retraction (same "
                    "ids) before appending"
                )
        pairs_delta = self._delta["pairs"].localCheckpoint()
        clusters = self.clusters.localCheckpoint()
        self._delta["phash"].write.mode("append").parquet(f"{path}/phash")
        pairs_delta.write.mode("append").parquet(f"{path}/pairs")
        clusters.write.mode("overwrite").parquet(f"{path}/clusters")
        hi = self._delta["phash"].agg(F.max("media_id")).first()[0]
        if hi is not None:
            old = self.max_id
            self.max_id = int(hi) if old is None else max(int(hi), int(old))
        self._write_meta(path)
        self._delta = None

    @classmethod
    def repair_saved(cls, spark: SparkSession, path: str) -> dict:
        """Converge a torn :meth:`append_saved` (crash after the phash
        append, before the meta re-stamp): because the phash stage is
        content-complete and pairs/clusters are PURE FUNCTIONS of it,
        the repair re-derives them from the stored hashes — no media
        bytes, no guessing which derived writes landed. Idempotent:

        - hash rows above the meta stamp are the landed-but-unstamped
          delta; its pairs are re-mined from the stored hashes and
          only the MISSING ones appended (anti-join — a fully landed
          pairs append adds nothing);
        - clusters are rewritten from the full pair set;
        - meta re-stamps to the on-disk max id.

        A PARTIAL phash append cannot be repaired from disk (the lost
        rows' hashes exist only in the source batch) — the streaming
        absorber detects that case by row count and raises instead.
        → {"repaired": bool, "rows_beyond_stamp": n, "pairs_added": n}.
        Single-writer-fenced (see :mod:`.lease`)."""
        from .lease import dir_lease

        with dir_lease(path, role="MediaIndex.repair_saved"):
            return cls._repair_saved_locked(spark, path)

    @classmethod
    def _repair_saved_locked(cls, spark: SparkSession, path: str) -> dict:
        idx = cls.load(spark, path)
        if idx.max_id is None:
            raise ValueError(
                "MediaIndex.repair_saved: meta has no max_id stamp — "
                "re-save() the index first"
            )
        from .textops import _cap_band_groups

        full_ph = idx.phash
        delta_ph = full_ph.filter(F.col("media_id") > idx.max_id).localCheckpoint()
        n_delta = delta_ph.count()
        if n_delta == 0:
            return {"repaired": False, "rows_beyond_stamp": 0, "pairs_added": 0}
        # identical candidate rule to update() — including the skew
        # cap over the merged band groups, so a repaired index serves
        # exactly what the clean absorb would have
        cand_ids = (
            idx._band_view(delta_ph)
            .alias("a")
            .join(
                _cap_band_groups(
                    idx._band_view(full_ph), idx._max_band_size
                ).alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.media_id") != F.col("b.media_id")),
            )
            .select(
                F.least(F.col("a.media_id"), F.col("b.media_id")).alias("id_a"),
                F.greatest(F.col("a.media_id"), F.col("b.media_id")).alias("id_b"),
            )
            .distinct()
        )
        want_pairs = idx._verify(cand_ids, full_ph)
        missing = want_pairs.join(
            idx.pairs, ["id_a", "id_b"], "left_anti"
        ).localCheckpoint()
        n_missing = missing.count()
        if n_missing:
            missing.write.mode("append").parquet(f"{path}/pairs")
        from .textops import connected_components

        # live pair set = the LOADED (committed-tombstone-filtered,
        # pre-append listing) pairs plus the just-mined missing delta —
        # NOT a raw re-read, which would resurrect retracted endpoints
        # into the cluster rewrite
        all_pairs = idx.pairs.select("id_a", "id_b").unionByName(
            missing.select("id_a", "id_b")
        )
        clusters = connected_components(all_pairs).localCheckpoint()
        clusters.write.mode("overwrite").parquet(f"{path}/clusters")
        hi = full_ph.agg(F.max("media_id")).first()[0]
        idx.max_id = int(hi)
        idx._write_meta(path)
        return {
            "repaired": True,
            "rows_beyond_stamp": int(n_delta),
            "pairs_added": int(n_missing),
        }

    @classmethod
    def compact(
        cls, spark: SparkSession, path: str, *, target_rows_per_file: int = 1 << 20
    ) -> dict:
        """Re-layout a :meth:`save`-d directory to size-targeted files
        — same contract as DedupIndex/VectorIndex.compact: appends
        leave O(updates) small files whose open/footer cost every
        later read pays. With a committed retraction ledger present,
        the rewrite also RESOLVES it (phash/pairs drop retracted rows;
        clusters were already rewritten by retract_saved; the ledger
        re-lays and is retained so reuse keeps being refused), and
        UNCOMMITTED ledger rows refuse — resolving around a torn
        retraction would race its replay. Otherwise a pure file
        re-layout — a re-``load`` serves identical frames
        (test-asserted). Meta untouched. In-memory objects over
        ``path`` are STALE afterwards.
        → ``{stage: {"rows", "files_before", "files_after"}}``.
        Single-writer-fenced (see :mod:`.lease`)."""
        from .lease import dir_lease
        from .textops import TornStateError

        with dir_lease(path, role="MediaIndex.compact"):
            tombs = None
            led_path = f"{path}/retracted"
            if storage.parquet_dir_exists(led_path):
                n_r = int(
                    storage.read_control_row(f"{path}/meta").get("n_retractions")
                    or 0
                )
                led = storage.read_parquet_pinned(spark, led_path)
                if led.filter(F.col("rseq") > n_r).limit(1).count():
                    raise TornStateError(
                        "MediaIndex.compact: uncommitted retraction ledger "
                        "rows on disk — replay that retraction (same ids) "
                        "before compacting"
                    )
                t = led.filter(F.col("rseq") <= n_r).select("id").distinct()
                if t.first() is not None:
                    tombs = t.localCheckpoint()
            out = {}
            for stage in cls._STAGES:
                df = storage.read_parquet_pinned(spark, f"{path}/{stage}")
                cols = df.columns
                if tombs is not None and stage == "phash":
                    df = df.join(
                        F.broadcast(tombs.withColumnRenamed("id", "media_id")),
                        "media_id",
                        "left_anti",
                    ).select(*cols)
                elif tombs is not None and stage == "pairs":
                    df = df.join(
                        F.broadcast(tombs.withColumnRenamed("id", "id_a")),
                        "id_a",
                        "left_anti",
                    ).join(
                        F.broadcast(tombs.withColumnRenamed("id", "id_b")),
                        "id_b",
                        "left_anti",
                    ).select(*cols)
                out[stage] = storage.rewrite_parquet_dir(
                    spark, f"{path}/{stage}", df, target_rows_per_file
                )
            if storage.parquet_dir_exists(led_path):
                out["retracted"] = storage.rewrite_parquet_dir(
                    spark,
                    led_path,
                    storage.read_parquet_pinned(spark, led_path),
                    target_rows_per_file,
                )
                storage.stamp_resolved_retractions(path, n_r)
            return out


def foreach_batch_add(spark: SparkSession, index_path: str):
    """Structured-Streaming ingestion into a saved media index: each
    micro-batch lands as one frozen-params :meth:`MediaIndex.update` +
    O(delta) :meth:`MediaIndex.append_saved`, under the at-least-once
    absorb contract of :mod:`.storage` (``max_id`` is the high-water
    mark). Because the phash stage is content-complete, the absorber
    needs no corpus log at all.

    Like the vector absorber, the append seam is disk-guarded: hash
    rows found ABOVE the stamp mean a prior append landed without its
    meta rewrite — repaired by :meth:`MediaIndex.repair_saved` when
    the batch is fully present (exact phash row count), raised on a
    torn partial append, never re-appended."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        idx = MediaIndex.load(spark, index_path)
        b = storage.monotone_batch(
            batch_df, idx._id_col, idx.max_id, "multimodal.foreach_batch_add"
        )
        if b is None:
            return
        disk_hi = idx.phash.agg(F.max("media_id")).first()[0]
        if disk_hi is not None and int(disk_hi) > idx.max_id:
            n_batch = batch_df.count()
            n_ph = idx.phash.filter(F.col("media_id") > idx.max_id).count()
            if int(disk_hi) == int(b["hi"]) and n_ph == n_batch:
                # the batch's hashes fully landed; whichever DERIVED
                # writes the crash lost are re-derived from them
                # (pairs/clusters are pure functions of the stored
                # hashes) and meta re-stamps — never a re-append
                MediaIndex.repair_saved(spark, index_path)
                return
            raise ValueError(
                "multimodal.foreach_batch_add: torn append detected — the "
                f"saved index holds hash rows above its max_id stamp "
                f"{idx.max_id} (disk max {disk_hi}; {n_ph} rows beyond the "
                f"stamp vs batch {n_batch}) but the batch's hashes are not "
                "fully present (they exist only in the source batch, so "
                "repair_saved cannot reconstruct them); repair the index "
                "directory before resuming"
            )
        idx.update(batch_df)
        idx.append_saved(index_path)

    return absorb


def foreach_batch_retract(spark: SparkSession, index_path: str):
    """Structured-Streaming DELETION feed into a saved media index —
    the deletion twin of :func:`foreach_batch_add`: each micro-batch
    of media ids lands as one :meth:`MediaIndex.retract` +
    :meth:`MediaIndex.retract_saved`, touching NO media bytes (the
    phash stage is content-complete for deletion), under the
    at-least-once absorb contract of :mod:`.storage`."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        idx = MediaIndex.load(spark, index_path)
        ids = storage.unretracted_ids(batch_df, idx._retracted_ids)
        if ids is None:
            return
        idx.retract(ids)
        idx.retract_saved(index_path)

    return absorb
