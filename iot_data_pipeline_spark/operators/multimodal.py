"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata (north star).

``decode_media`` REALLY decodes the lib-free formats — WAV (RIFF/PCM via
``wave``), binary PPM, PNG (chunk walk + zlib inflate + all five scanline
unfilters, 8-bit gray/RGB/RGBA), and baseline JPEG (full ITU T.81 baseline
sequential pipeline: canonical Huffman entropy decode, dequantize,
dezigzag, orthonormal IDCT, chroma upsample, YCbCr→RGB — pure
Python/numpy) — and the ``mm_decode_wav`` query drives a full encode →
container bytes → decode → features round trip through mapInPandas,
hash-verified against a pure-SQL oracle. MP4 needs a container+codec stack
with no stdlib implementation and raises ``NotImplementedError`` at the
same seam — the one PERMANENT seam in this build, by design. All
Spark-side plumbing is format-agnostic and tested:
the binary column type, the typed metadata struct, Arrow batch shape
through ``mapInPandas``, and partition-size control for large blobs.

At 100 TB of media: blobs ride in parquet binary columns (or references to
object storage resolved inside mapInPandas), ``spark.sql.files.
maxPartitionBytes`` bounds executor memory per task, and feature extraction
is an Arrow-batched mapInPandas so the codec/model amortizes per batch, not
per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iot_data_pipeline_spark.operators._util import spread_input, table


def decode_media(blob: bytes, media_type: str):
    """Decode a media blob → ``(ndarray, metadata dict)``.

    REAL decoders for container-free formats parseable with the stdlib:
    - ``audio/wav``: RIFF/PCM via ``wave`` → int16/uint8 sample array +
      {n_channels, sample_rate, n_samples}.
    - ``image/ppm``: binary P6 → (height, width, 3) uint8 array +
      {width, height, maxval}.

    - ``image/png``: full chunk walk + zlib inflate + scanline unfilter
      (all five filter types) for 8-bit gray/RGB/RGBA, stdlib ``zlib``
      only → (height, width[, channels]) uint8 array + {width, height,
      color_type, bit_depth}.
    - ``image/jpeg``: baseline sequential DCT (ITU T.81) — marker walk,
      canonical Huffman entropy decode with byte-unstuffing and restart
      markers, dequantize + dezigzag, orthonormal IDCT, replicate chroma
      upsample, JFIF YCbCr→RGB → (height, width[, 3]) uint8 array +
      {width, height, n_components}. Progressive/12-bit/arithmetic raise
      with the observed frame header.

    MP4 needs a container + video codec stack with no stdlib
    implementation; it raises ``NotImplementedError`` as the PERMANENT
    external-codec seam — plug a decoder in here; everything downstream
    (Arrow batching, schema, feature extraction) is format-agnostic."""
    import io

    import numpy as np

    if media_type in ("image/png", "png"):
        return _decode_png(bytes(blob))
    if media_type in ("image/jpeg", "image/jpg", "jpeg", "jpg"):
        return _decode_jpeg(bytes(blob))

    if media_type in ("audio/wav", "wav"):
        import wave

        with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
            n = w.getnframes()
            width = w.getsampwidth()
            raw = w.readframes(n)
            dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}[width]
            arr = np.frombuffer(raw, dtype=dtype)
            if w.getnchannels() > 1:
                arr = arr.reshape(-1, w.getnchannels())
            return arr, {
                "n_channels": w.getnchannels(),
                "sample_rate": w.getframerate(),
                "n_samples": n,
            }
    if media_type in ("image/ppm", "ppm"):
        # binary P6: "P6\n<w> <h>\n<maxval>\n" then w*h*3 raw bytes.
        data = bytes(blob)
        fields: list[bytes] = []
        pos = 0
        while len(fields) < 4:
            while pos < len(data) and data[pos : pos + 1].isspace():
                pos += 1
            if data[pos : pos + 1] == b"#":  # comment to end of line
                pos = data.index(b"\n", pos) + 1
                continue
            start = pos
            while pos < len(data) and not data[pos : pos + 1].isspace():
                pos += 1
            fields.append(data[start:pos])
        if fields[0] != b"P6":
            raise ValueError(f"not a binary PPM: magic={fields[0]!r}")
        w_, h, maxval = int(fields[1]), int(fields[2]), int(fields[3])
        pos += 1  # single whitespace after maxval
        arr = np.frombuffer(data, dtype=np.uint8, count=w_ * h * 3, offset=pos)
        return arr.reshape(h, w_, 3), {"width": w_, "height": h, "maxval": maxval}
    raise NotImplementedError(
        f"no decoder for {media_type!r} in this build (needs codec libs); "
        "plug one in here (signature: bytes, media_type -> (ndarray, meta))"
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth only; palette/16-bit raise)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to a+b-c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png(data: bytes):
    """Real PNG decode with only the stdlib: walk chunks, inflate the IDAT
    stream, reverse the per-scanline filter. Supports bit depth 8, color
    types 0 (gray) / 2 (RGB) / 6 (RGBA), no interlace — the common subset;
    anything else raises with the observed header. Up-filter rows are
    numpy-vectorized (uint8 wraparound IS the mod-256 the spec wants);
    Sub/Average/Paeth rows carry an intra-row dependency, so they
    reconstruct per-byte — fine for metadata/feature extraction; swap in a
    C codec via this same seam for bulk pixel work."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: signature={data[:8]!r}")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(data):
        # Bounds-check before slicing: a truncated blob must surface as the
        # decoder's documented ValueError, not IndexError/struct.error, so
        # mapInPandas failure rows stay diagnosable.
        if pos + 8 > len(data):
            raise ValueError(f"PNG: truncated chunk header at byte {pos}")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(
                f"PNG: truncated chunk {ctype!r} at byte {pos}"
                f" (declares {length} body bytes)"
            )
        body = data[pos + 8 : pos + 8 + length]
        expected_crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != expected_crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"PNG: IHDR body is {len(body)} bytes, want 13")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"PNG subset: need 8-bit gray/RGB/RGBA non-interlaced, got "
            f"bit_depth={bit_depth} color_type={color_type} interlace={interlace}"
        )
    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError(f"PNG: {len(raw)} inflated bytes, want {height * (stride + 1)}")
    out = np.zeros((height, stride), dtype=np.uint8)
    for r in range(height):
        off = r * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, np.uint8, stride, off + 1)
        prev = out[r - 1] if r else np.zeros(stride, np.uint8)
        if ftype == 0:
            out[r] = line
        elif ftype == 2:  # Up: no intra-row dependency, vectorize
            out[r] = line + prev
        elif ftype in (1, 3, 4):
            cur = out[r]
            for i in range(stride):
                a = int(cur[i - channels]) if i >= channels else 0
                b = int(prev[i])
                c = int(prev[i - channels]) if i >= channels else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    pred = _paeth(a, b, c)
                cur[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ftype} in row {r}")
    arr = out.reshape(height, width, channels) if channels > 1 else out.reshape(
        height, width
    )
    return arr, {
        "width": width,
        "height": height,
        "color_type": color_type,
        "bit_depth": bit_depth,
    }


def synth_png(media_id: int, width: int, height: int) -> bytes:
    """Deterministic RGB PNG: pixel formula identical to ``synth_ppm``
    ((id·7 + row·31 + col·13 + ch·5) mod 256), encoded with scanline
    filter ``row mod 5`` so a decode round trip exercises every filter
    type (None/Sub/Up/Average/Paeth), stdlib zlib only."""
    import struct
    import zlib

    import numpy as np

    k = np.arange(width * height * 3, dtype=np.int64)
    row, col, ch = (k // 3) // width, (k // 3) % width, k % 3
    px = ((media_id * 7 + row * 31 + col * 13 + ch * 5) % 256).astype(np.uint8)
    img = px.reshape(height, width * 3)
    bpp = 3
    scanlines = bytearray()
    for r in range(height):
        ftype = r % 5
        cur = img[r].astype(np.int16)
        prev = img[r - 1].astype(np.int16) if r else np.zeros(len(cur), np.int16)
        a = np.concatenate([np.zeros(bpp, np.int16), cur[:-bpp]])
        c = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp]])
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - a
        elif ftype == 2:
            filt = cur - prev
        elif ftype == 3:
            filt = cur - ((a + prev) >> 1)
        else:
            pred = np.array(
                [_paeth(int(a[i]), int(prev[i]), int(c[i])) for i in range(len(cur))],
                dtype=np.int16,
            )
            filt = cur - pred
        scanlines.append(ftype)
        scanlines.extend((filt % 256).astype(np.uint8).tobytes())

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scanlines)))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81, baseline sequential DCT). Pure Python + numpy —
# no codec libs. The entropy coder is bit-level Python, sized for the
# metadata/feature-extraction tier (small images, spot decodes); bulk pixel
# work swaps in a C codec at the decode_media seam, same as PNG.
# Tables below are from the public spec: Annex K.3 typical Huffman tables.

# zigzag: scan position k -> (row, col); diagonals alternate direction
_JPG_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[0] if (rc[0] + rc[1]) % 2 else -rc[0]),
)

# Annex K.3.1: typical luminance DC/AC tables (used for every component we
# encode; the decoder reads whatever tables the file declares).
_JPG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPG_DC_VALS = tuple(range(12))
_JPG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
_JPG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpg_huff_codes(bits, vals):
    """Canonical code assignment (T.81 §C.2): yields (length, code, value)
    in table order — codes of each length are consecutive, then the counter
    left-shifts when the length grows."""
    out = []
    code = k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((length, code, vals[k]))
            code += 1
            k += 1
        code <<= 1
    return out


def _jpg_idct(coef):
    """Orthonormal 2-D inverse DCT of one natural-order 8×8 block:
    f = Aᵀ F A with A[u,x] = ½·c(u)·cos((2x+1)uπ/16), c(0)=1/√2."""
    import numpy as np

    x = np.arange(8)
    A = 0.5 * np.cos((2 * x[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16)
    A[0] /= np.sqrt(2.0)
    return A.T @ np.asarray(coef, dtype=np.float64) @ A


class _JpgBitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at any real
    marker, byte-aligns across RSTn boundaries."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos = data, pos
        self.buf = self.nbits = 0

    def _fill(self):
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("JPEG: entropy data truncated")
        byte = d[p]
        p += 1
        if byte == 0xFF:
            if p >= len(d):
                raise ValueError("JPEG: dangling 0xFF at end of scan")
            if d[p] == 0x00:
                p += 1  # stuffed literal 0xFF
            else:
                raise ValueError(f"JPEG: marker 0xFF{d[p]:02X} inside scan")
        self.pos = p
        self.buf = (self.buf << 8) | byte
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def huff(self, table: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.bits(1)
            length += 1
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("JPEG: invalid Huffman code in scan")

    def restart(self, n: int):
        """Consume the byte-aligned RSTn marker between restart intervals:
        drop buffered pad bits, skip unconsumed pad bytes (including a
        stuffed FF00 the 1-bit padding can produce), then require RSTn."""
        self.buf = self.nbits = 0
        d, p = self.data, self.pos
        while p + 1 < len(d) and (d[p] != 0xFF or d[p + 1] == 0x00):
            p += 1
        if p + 1 >= len(d):
            raise ValueError(
                f"JPEG: truncated scan — no RST{n % 8} marker before EOF"
            )
        if d[p + 1] != 0xD0 + (n % 8):
            raise ValueError(
                f"JPEG: expected RST{n % 8}, got {d[p]:02X}{d[p + 1]:02X}"
            )
        self.pos = p + 2


def _jpg_extend(v: int, t: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map a t-bit magnitude to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_jpeg(data: bytes):
    """Baseline sequential JPEG decode (T.81): marker walk → per-table DQT /
    DHT → SOF0/1 frame → SOS interleaved MCU scan (Huffman + dequant +
    dezigzag + IDCT) → replicate chroma upsample → JFIF YCbCr→RGB."""
    import struct

    import numpy as np

    if data[:2] != b"\xff\xd8":
        raise ValueError(f"not a JPEG: starts {data[:2]!r}")
    pos = 2
    qt: dict[int, list[int]] = {}  # id -> 64 dequant factors, zigzag order
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> {(len, code): val}
    frame = None
    restart_interval = 0
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}, got {data[pos]:02X}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (one or more tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("JPEG: 16-bit quant tables")
                qt[tq] = list(body[i + 1 : i + 65])
                i += 65
        elif marker == 0xC4:  # DHT (one or more tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = body[i + 1 : i + 17]
                n = sum(bits)
                vals = body[i + 17 : i + 17 + n]
                huff[(tc, th)] = {
                    (ln, code): v for ln, code, v in _jpg_huff_codes(bits, vals)
                }
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError(f"JPEG: {prec}-bit precision")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG: non-baseline frame SOF{marker - 0xC0} "
                "(progressive/lossless/arithmetic)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            sel = {body[1 + 2 * i]: body[2 + 2 * i] for i in range(ns)}
            planes = _jpg_decode_scan(
                data, pos, frame, qt, huff, sel, restart_interval
            )
            return _jpg_assemble(frame, planes)
        # APPn / COM / others: skipped
    raise ValueError("JPEG: no SOS marker found")


def _jpg_decode_scan(data, pos, frame, qt, huff, sel, restart_interval):
    """Decode the single interleaved baseline scan into per-component planes
    of whole-MCU size (cropped later)."""
    import numpy as np

    comps = frame["comps"]
    if len(sel) == 1:
        # T.81 §A.2.2: a non-interleaved (single-component) scan's MCU is
        # exactly one data unit — the component's sampling factors apply
        # only to interleaved scans. A grayscale JPEG declaring 2x2
        # sampling must still decode one 8x8 block per MCU.
        if len(comps) > 1:
            raise NotImplementedError(
                "JPEG: multi-scan non-interleaved frames (got a 1-component"
                f" scan over a {len(comps)}-component frame)"
            )
        comps = [dict(comps[0], h=1, v=1)]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    rd = _JpgBitReader(data, pos)
    pred = [0] * len(comps)
    n_rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            rd.restart(n_rst)
            n_rst += 1
            pred = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, c in enumerate(comps):
            dc_tab = huff[(0, sel[c["id"]] >> 4)]
            ac_tab = huff[(1, sel[c["id"]] & 0xF)]
            quant = qt[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    zz = [0] * 64
                    t = rd.huff(dc_tab)
                    pred[ci] += _jpg_extend(rd.bits(t), t)
                    zz[0] = pred[ci] * quant[0]
                    k = 1
                    while k < 64:
                        rs = rd.huff(ac_tab)
                        run, size = rs >> 4, rs & 0xF
                        if size == 0:
                            if run == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            raise ValueError("JPEG: AC run past end of block")
                        zz[k] = _jpg_extend(rd.bits(size), size) * quant[k]
                        k += 1
                    block = np.zeros((8, 8))
                    for k in range(64):
                        if zz[k]:
                            block[_JPG_ZIGZAG[k]] = zz[k]
                    r0 = (my * c["v"] + by) * 8
                    c0 = (mx * c["h"] + bx) * 8
                    planes[ci][r0 : r0 + 8, c0 : c0 + 8] = _jpg_idct(block)
    return planes


def _jpg_assemble(frame, planes):
    """Level-shift, crop, upsample, and color-convert decoded planes."""
    import numpy as np

    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = []
    for c, p in zip(comps, planes):
        p = p + 128.0
        cw = -(-w * c["h"] // hmax)
        ch = -(-h * c["v"] // vmax)
        p = p[:ch, :cw]
        if c["h"] != hmax or c["v"] != vmax:  # replicate upsample
            p = np.repeat(np.repeat(p, vmax // c["v"], 0), hmax // c["h"], 1)
        out.append(p[:h, :w])
    meta = {"width": w, "height": h, "n_components": len(comps)}
    if len(comps) == 1:
        gray = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return gray, meta
    if len(comps) != 3:
        raise NotImplementedError(f"JPEG: {len(comps)}-component image")
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=-1,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8), meta


class _JpgBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = self.nbits = 0

    def write(self, value: int, n: int):
        self.buf = (self.buf << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.buf >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuff
            self.buf &= (1 << self.nbits) - 1

    def align(self):
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _encode_jpeg(coeffs, w, h, sampling=None, restart_interval=0):
    """Minimal baseline JFIF writer for round-trip tests: takes per-component
    QUANTIZED coefficient blocks (natural order, shape (by, bx, 8, 8)), an
    all-ones quant table, and the Annex-K luminance Huffman tables for every
    component. ``sampling``: list of (h, v) per component (default all 1×1).
    Encoding side exists only to exercise the decoder — production data
    arrives already encoded."""
    import struct

    ncomp = len(coeffs)
    sampling = sampling or [(1, 1)] * ncomp
    dc_map = {v: (ln, code) for ln, code, v in _jpg_huff_codes(_JPG_DC_BITS, _JPG_DC_VALS)}
    ac_map = {v: (ln, code) for ln, code, v in _jpg_huff_codes(_JPG_AC_BITS, _JPG_AC_VALS)}

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    head = bytearray(b"\xff\xd8")
    head += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci, (sh, sv) in enumerate(sampling):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    head += seg(0xC0, sof)
    head += seg(0xC4, bytes([0x00]) + bytes(_JPG_DC_BITS) + bytes(_JPG_DC_VALS))
    head += seg(0xC4, bytes([0x10]) + bytes(_JPG_AC_BITS) + bytes(_JPG_AC_VALS))
    if restart_interval:
        head += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    head += seg(0xDA, sos)

    if ncomp == 1:
        # T.81 §A.2.2: a 1-component scan is non-interleaved — one data
        # unit per MCU regardless of the sampling declared in SOF (mirrors
        # the decoder's handling of sampled grayscale frames).
        sampling = [(1, 1)]
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bw = _JpgBitWriter()
    pred = [0] * ncomp

    def put(vmap, sym: int, extra: int, nbits: int):
        ln, code = vmap[sym]
        bw.write(code, ln)
        if nbits:
            bw.write(extra if extra >= 0 else extra + (1 << nbits) - 1, nbits)

    n_rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.align()
            bw.out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            pred = [0] * ncomp
        my, mx = divmod(m, mcus_x)
        for ci, (sh, sv) in enumerate(sampling):
            for by in range(sv):
                for bx in range(sh):
                    blk = coeffs[ci][my * sv + by][mx * sh + bx]
                    zz = [int(blk[r][c]) for r, c in _JPG_ZIGZAG]
                    diff = zz[0] - pred[ci]
                    pred[ci] = zz[0]
                    t = abs(diff).bit_length()
                    put(dc_map, t, diff, t)
                    run = 0
                    last = max((k for k in range(1, 64) if zz[k]), default=0)
                    for k in range(1, last + 1):
                        if zz[k] == 0:
                            run += 1
                            continue
                        while run > 15:
                            put(ac_map, 0xF0, 0, 0)  # ZRL
                            run -= 16
                        size = abs(zz[k]).bit_length()
                        put(ac_map, (run << 4) | size, zz[k], size)
                        run = 0
                    if last < 63:
                        put(ac_map, 0x00, 0, 0)  # EOB
    return bytes(head) + bw.flush() + b"\xff\xd9"


def synth_jpeg(media_id: int, w_blocks: int, h_blocks: int) -> bytes:
    """Deterministic grayscale baseline JPEG: block (r,c) is flat with pixel
    value ``(media_id·7 + r·31 + c·13) mod 256`` — i.e. a DC-only
    coefficient of ``8·(value − 128)`` under the all-ones quant table, which
    the orthonormal IDCT inverts exactly (DC/8 + 128). Exercises real
    Huffman DC delta coding (variable categories, negative diffs) while
    keeping every decoded pixel integer-exact for an arithmetic oracle."""
    import numpy as np

    blocks = np.zeros((h_blocks, w_blocks, 8, 8), dtype=np.int64)
    for r in range(h_blocks):
        for c in range(w_blocks):
            val = (media_id * 7 + r * 31 + c * 13) % 256
            blocks[r, c, 0, 0] = 8 * (val - 128)
    return _encode_jpeg([blocks], w_blocks * 8, h_blocks * 8)


def synth_wav(media_id: int, n_samples: int, sample_rate: int = 16000) -> bytes:
    """Deterministic mono 16-bit PCM WAV: sample i of media ``media_id`` is
    ``((media_id·131 + i·7919) mod 65536) − 32768``. Pure arithmetic, so a
    SQL oracle can recompute every decoded sample without a codec."""
    import io
    import wave

    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    samples = ((media_id * 131 + i * 7919) % 65536 - 32768).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _media_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as a media table: binary payload + typed metadata
    struct. Stands in for (image_bytes, {width, height, format}) rows."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("lang").alias("container"),
            F.col("source").alias("origin"),
            F.col("n_chars").cast("long").alias("declared_size"),
        ).alias("meta"),
    )


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata scan: byte length, magic-prefix hex, declared
    vs actual size check — all JVM-side expressions on the binary type."""
    m = _media_frame(spark, sf_dir)
    return m.select(
        "media_id",
        F.octet_length("payload").alias("n_bytes"),
        F.hex(F.substring("payload", 1, 8)).alias("magic_hex"),
        F.col("meta.container").alias("container"),
        F.col("meta.origin").alias("origin"),
        (F.octet_length("payload") == F.col("meta.declared_size")).alias(
            "size_matches"
        ),
    )


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched mapInPandas.

    The "model" is a deterministic fake (byte-histogram moments → 4-dim
    vector) so the full path — binary column → Arrow batch → per-batch
    numpy → array<double> feature column — is exercised and verifiable
    without codec libs. Swap ``fake_features`` for a real decode+forward
    (via ``decode_media``) in production."""
    m = _media_frame(spark, sf_dir)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for blob in pdf["payload"]:
                b = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.float64)
                feats.append(
                    [
                        float(len(b)),
                        float(b.mean()) if len(b) else 0.0,
                        float(b.min()) if len(b) else 0.0,
                        float(b.max()) if len(b) else 0.0,
                    ]
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": feats}
            )

    # NOT spread_input: this stage ships the payload itself, and the
    # byte-moment "model" is cheaper than shuffling the blobs (measured
    # 0.29 s single task vs 0.70 s spread at sf0.1) — the helper pays off
    # only where the exchange carries id+params metadata and the Python
    # stage is the expensive part (the real decoders below).
    out = m.mapInPandas(extract, "media_id LONG, feature ARRAY<DOUBLE>")
    return out.select(
        "media_id",
        F.size("feature").alias("feat_dim"),
        F.round(F.element_at("feature", 1), 4).alias("f_len"),
        F.round(F.element_at("feature", 2), 4).alias("f_mean"),
        F.round(F.element_at("feature", 3), 4).alias("f_min"),
        F.round(F.element_at("feature", 4), 4).alias("f_max"),
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: treat each payload as a fake "video" and cut
    fixed-stride byte windows ("frames") — 1→N expansion of binary columns
    with JVM expressions (the real variant swaps the byte slice for a
    decoded frame tensor)."""
    m = _media_frame(spark, sf_dir)
    stride, frame_len, max_frames = 64, 16, 4
    idx = F.sequence(
        F.lit(0),
        F.least(
            F.floor((F.octet_length("payload") - frame_len) / stride).cast("int"),
            F.lit(max_frames - 1),
        ),
    )
    return (
        m.where(F.octet_length("payload") >= frame_len)
        .select("media_id", F.explode(idx).alias("frame_no"), "payload")
        .select(
            "media_id",
            "frame_no",
            F.hex(
                F.substring(
                    F.col("payload"), F.col("frame_no") * stride + 1, frame_len
                )
            ).alias("frame_hex"),
        )
    )


def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round trip through the Arrow path: synthesize a
    deterministic PCM WAV per document (``synth_wav``), decode it with the
    stdlib ``wave`` codec (``decode_media``), and emit integer-exact audio
    features. Encode → container bytes → decode → features all happen
    inside one mapInPandas, exactly how a production decode stage runs;
    the oracle recomputes the sample formula in SQL, so a hash match proves
    the codec round trip is lossless."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(64) + F.pmod(F.col("doc_id"), F.lit(37))).alias("n_samples"),
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, n in zip(pdf["media_id"], pdf["n_samples"]):
                blob = synth_wav(int(mid), int(n))
                arr, meta = decode_media(blob, "audio/wav")
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_bytes": len(blob),
                        "n_channels": meta["n_channels"],
                        "sample_rate": meta["sample_rate"],
                        "n_samples": meta["n_samples"],
                        "amp_min": int(arr.min()),
                        "amp_max": int(arr.max()),
                        "amp_sum": int(arr.sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_decode,
        "media_id LONG, n_bytes LONG, n_channels INT, sample_rate INT,"
        " n_samples LONG, amp_min LONG, amp_max LONG, amp_sum LONG",
    )


def synth_ppm(media_id: int, width: int, height: int) -> bytes:
    """Deterministic binary P6 image: pixel value at flat byte offset k is
    ``(media_id·7 + row·31 + col·13 + channel·5) mod 256``. Arithmetic-only,
    so a SQL oracle can recompute every decoded byte."""
    import numpy as np

    k = np.arange(width * height * 3, dtype=np.int64)
    row, col, ch = (k // 3) // width, (k // 3) % width, k % 3
    vals = ((media_id * 7 + row * 31 + col * 13 + ch * 5) % 256).astype(np.uint8)
    return f"P6\n{width} {height}\n255\n".encode() + vals.tobytes()


def mm_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-modality twin of ``mm_decode_wav``: synthesize a deterministic
    P6 image per document, decode it with the real PPM parser, and emit
    integer-exact pixel features (dimensions, byte stats, per-channel sums)
    through the same Arrow-batched mapInPandas path a production
    decode+featurize stage uses."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(5))).alias("w"),
        (F.lit(3) + F.pmod(F.col("doc_id"), F.lit(4))).alias("h"),
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                blob = synth_ppm(int(mid), int(w), int(h))
                arr, meta = decode_media(blob, "image/ppm")
                flat = arr.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": meta["width"],
                        "height": meta["height"],
                        "n_bytes": len(blob),
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                        "px_sum": int(flat.sum()),
                        "r_sum": int(arr[:, :, 0].sum()),
                        "g_sum": int(arr[:, :, 1].sum()),
                        "b_sum": int(arr[:, :, 2].sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_decode,
        "media_id LONG, width INT, height INT, n_bytes LONG, px_min LONG,"
        " px_max LONG, px_sum LONG, r_sum LONG, g_sum LONG, b_sum LONG",
    )


def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG twin of ``mm_decode_ppm``: synthesize a deterministic RGB PNG per
    document (``synth_png`` — every scanline filter type, stdlib zlib
    deflate), decode it with the real chunk-walk/inflate/unfilter decoder,
    and emit integer-exact pixel features through the same Arrow-batched
    mapInPandas path. Height is pinned ≥5 so all five filter types
    (None/Sub/Up/Average/Paeth) run for every single document. The oracle
    recomputes the pixel formula in SQL, so a hash match proves the whole
    compress→filter→decode chain is lossless."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(5))).alias("w"),
        (F.lit(5) + F.pmod(F.col("doc_id"), F.lit(4))).alias("h"),
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                blob = synth_png(int(mid), int(w), int(h))
                arr, meta = decode_media(blob, "image/png")
                flat = arr.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": meta["width"],
                        "height": meta["height"],
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                        "px_sum": int(flat.sum()),
                        "r_sum": int(arr[:, :, 0].sum()),
                        "g_sum": int(arr[:, :, 1].sum()),
                        "b_sum": int(arr[:, :, 2].sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_decode,
        "media_id LONG, width INT, height INT, px_min LONG, px_max LONG,"
        " px_sum LONG, r_sum LONG, g_sum LONG, b_sum LONG",
    )


def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG twin of ``mm_decode_wav``: synthesize a deterministic grayscale
    baseline JPEG per document (``synth_jpeg`` — DC-only blocks, so the
    orthonormal IDCT inverts integer-exactly), decode it with the real
    Huffman+IDCT decoder, and emit pixel features the SQL oracle recomputes
    from the block formula. Runs the full marker walk, DC delta coding, and
    dequant/IDCT per document inside one mapInPandas."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(3))).alias("wb"),
        (F.lit(1) + F.pmod(F.col("doc_id"), F.lit(2))).alias("hb"),
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, wb, hb in zip(pdf["media_id"], pdf["wb"], pdf["hb"]):
                blob = synth_jpeg(int(mid), int(wb), int(hb))
                arr, meta = decode_media(blob, "image/jpeg")
                flat = arr.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                        "n_components": meta["n_components"],
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                        "px_sum": int(flat.sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_decode,
        "media_id LONG, width INT, height INT, n_components INT,"
        " px_min LONG, px_max LONG, px_sum LONG",
    )


QUERIES = {
    "mm_binary_meta": mm_binary_meta,
    "mm_feature_extract": mm_feature_extract,
    "mm_frame_sample": mm_frame_sample,
    "mm_decode_wav": mm_decode_wav,
    "mm_decode_ppm": mm_decode_ppm,
}

# Registered round 5 (the round-2 freeze lifted once driver attestation
# reached 174 green ≥ 170): the real-codec registry twins below give the
# r2/r3 PNG/JPEG decoders their own driver CORRECTNESS rows.
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio featurization over the real WAV decode path: energy,
    zero-crossing count, and peak amplitude per non-overlapping 400-sample
    frame — the classic VAD/segmentation front-end, run as decode →
    numpy frame ops inside one Arrow-batched mapInPandas. All features are
    integer arithmetic on the decoded int16 samples, so the SQL oracle
    recomputes them exactly from the synth formula; a hash match proves
    decode AND framing are sample-exact.

    100 TB shape: one narrow pass, no shuffle — each blob's frames are
    emitted by the same task that decoded it; the 1→N frame expansion is
    bounded by blob length. Same seam swaps in FFT/spectral features
    (float, rows-only oracle) without touching the plumbing."""
    frame_len = 400
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(800) + F.pmod(F.col("doc_id"), F.lit(400))).alias("n_samples"),
    )

    def gen_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, n in zip(pdf["media_id"], pdf["n_samples"]):
                blob = synth_wav(int(mid), int(n))
                arr, _meta = decode_media(blob, "audio/wav")
                a = arr.astype(np.int64)
                for f in range(-(-len(a) // frame_len)):
                    fr = a[f * frame_len : (f + 1) * frame_len]
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_no": f,
                            "n_in_frame": len(fr),
                            "energy": int((fr * fr).sum()),
                            # strict sign flips; zero samples never count
                            "n_zero_cross": int(
                                ((fr[:-1] * fr[1:]) < 0).sum()
                            ),
                            "amp_peak": int(np.abs(fr).max()),
                        }
                    )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_frames,
        "media_id LONG, frame_no LONG, n_in_frame LONG, energy LONG,"
        " n_zero_cross LONG, amp_peak LONG",
    )


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize through the real decode path: synthesize a P6 image per
    document, decode it, nearest-neighbor-resample to a fixed 3×3 thumbnail
    (``src = floor(dst · src_dim / 3)`` — the standard NN grid map), and
    emit integer-exact features of the thumbnail. Resize is the canonical
    pre-embedding normalization step for vision training data; NN keeps the
    arithmetic integer-exact so the SQL oracle can recompute every output
    pixel from the synth formula (bilinear and friends swap in at this same
    seam with a rows-only oracle).

    100 TB shape: decode → resample → featurize per blob inside one
    Arrow-batched mapInPandas — no shuffle, output rows are tiny
    thumbnail summaries, and batch size bounds executor memory."""
    out_dim = 3
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(5))).alias("w"),
        (F.lit(3) + F.pmod(F.col("doc_id"), F.lit(4))).alias("h"),
    )

    def gen_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                blob = synth_ppm(int(mid), int(w), int(h))
                arr, _meta = decode_media(blob, "image/ppm")
                rr = (np.arange(out_dim) * int(h)) // out_dim
                cc = (np.arange(out_dim) * int(w)) // out_dim
                thumb = arr[np.ix_(rr, cc)].astype(np.int64)
                rows.append(
                    {
                        "media_id": int(mid),
                        "out_w": out_dim,
                        "out_h": out_dim,
                        "px_sum": int(thumb.sum()),
                        "r_sum": int(thumb[:, :, 0].sum()),
                        "g_sum": int(thumb[:, :, 1].sum()),
                        "b_sum": int(thumb[:, :, 2].sum()),
                        "top_left": int(thumb[0, 0, 0]),
                        "bottom_right": int(thumb[-1, -1, 2]),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_resize,
        "media_id LONG, out_w INT, out_h INT, px_sum LONG, r_sum LONG,"
        " g_sum LONG, b_sum LONG, top_left LONG, bottom_right LONG",
    )


def mm_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear image resize through the real decode path — the standard
    pre-embedding resampler (NN's quality-step sibling at the same seam as
    ``mm_resize``). Align-corners grid map ``src = dst · (src_dim−1) / 2``
    for a 3×3 thumbnail: every source coordinate is an integer or exact
    half, so the 4-tap blend is FIXED POINT with denominator 4 — outputs
    are emitted in quarter-pixel units (``*4`` columns), keeping the whole
    chain integer-exact and the SQL oracle able to recompute every output
    pixel from the synth formula. (Float bilinear differs across engines
    in rounding; fixed point makes the hash meaningful.)

    100 TB shape: decode → fixed-point blend → featurize per blob inside
    one Arrow-batched mapInPandas — no shuffle, tiny summary rows."""
    out_dim = 3
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(5))).alias("w"),
        (F.lit(3) + F.pmod(F.col("doc_id"), F.lit(4))).alias("h"),
    )

    def gen_bilinear(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"]):
                blob = synth_ppm(int(mid), int(w), int(h))
                arr, _meta = decode_media(blob, "image/ppm")
                a = arr.astype(np.int64)
                w, h = int(w), int(h)
                # half-unit source coords: r*(h-1)/2 = r0 + fr2/2
                rr = np.arange(out_dim) * (h - 1)
                cc = np.arange(out_dim) * (w - 1)
                r0, fr2 = rr // 2, rr % 2
                c0, fc2 = cc // 2, cc % 2
                r1 = np.minimum(r0 + 1, h - 1)  # weight 0 when fr2 == 0
                c1 = np.minimum(c0 + 1, w - 1)
                wr0 = (2 - fr2)[:, None, None]
                wr1 = fr2[:, None, None]
                wc0 = (2 - fc2)[None, :, None]
                wc1 = fc2[None, :, None]
                val4 = (
                    wr0 * wc0 * a[np.ix_(r0, c0)]
                    + wr0 * wc1 * a[np.ix_(r0, c1)]
                    + wr1 * wc0 * a[np.ix_(r1, c0)]
                    + wr1 * wc1 * a[np.ix_(r1, c1)]
                )
                rows.append(
                    {
                        "media_id": int(mid),
                        "out_w": out_dim,
                        "out_h": out_dim,
                        "px4_sum": int(val4.sum()),
                        "r4_sum": int(val4[:, :, 0].sum()),
                        "g4_sum": int(val4[:, :, 1].sum()),
                        "b4_sum": int(val4[:, :, 2].sum()),
                        "top_left4": int(val4[0, 0, 0]),
                        # the center tap exercises real fractional weights
                        "center4": int(val4[1, 1, 1]),
                        "bottom_right4": int(val4[-1, -1, 2]),
                    }
                )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_bilinear,
        "media_id LONG, out_w INT, out_h INT, px4_sum LONG, r4_sum LONG,"
        " g4_sum LONG, b4_sum LONG, top_left4 LONG, center4 LONG,"
        " bottom_right4 LONG",
    )


def mm_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral audio features over the real WAV decode: the first 8
    natural-order WALSH–HADAMARD coefficients of each blob's leading
    64 samples, in long form ``(media_id, k, coeff)``. WHT is the
    integer-exact spectral transform — every basis value is ±1
    (``(−1)^popcount(i & k)``), so coefficients are plain signed integer
    sums and the SQL oracle recomputes them exactly from the synth
    formula via ``bit_count``; a hash match proves decode AND transform
    sample-exact. (DCT/FFT swap in at this same seam but are float —
    their oracle would be rows-only; WHT keeps the strong gate.)

    100 TB shape: decode → 8 ±1-dot-products per blob inside one
    Arrow-batched mapInPandas — no shuffle, bounded 8-row output per
    blob."""
    n_taps, n_coef = 64, 8
    # signs[k][i] = (-1)^popcount(i & k): ±1 Walsh basis, built once
    # driver-side (8×64 ints) and closed over by the UDF.
    signs = [
        [1 - 2 * (bin(i & k).count("1") & 1) for i in range(n_taps)]
        for k in range(n_coef)
    ]
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(800) + F.pmod(F.col("doc_id"), F.lit(400))).alias("n_samples"),
    )

    def gen_spectrum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        smat = np.array(signs, dtype=np.int64)  # (n_coef, n_taps)
        for pdf in batches:
            rows = []
            for mid, n in zip(pdf["media_id"], pdf["n_samples"]):
                blob = synth_wav(int(mid), int(n))
                arr, _meta = decode_media(blob, "audio/wav")
                a = arr[:n_taps].astype(np.int64)
                coeffs = smat @ a
                for k in range(n_coef):
                    rows.append(
                        {
                            "media_id": int(mid),
                            "k": k,
                            "coeff": int(coeffs[k]),
                        }
                    )
            yield pd.DataFrame(rows)

    return spread_input(base, "media_id").mapInPandas(
        gen_spectrum, "media_id LONG, k LONG, coeff LONG"
    )


def _ahash_record(mid: int, w: int, h: int) -> dict:
    """Decode one synthesized PPM and fingerprint it: integer luma
    (299R+587G+114B), strict-above-mean bit per pixel in row-major order
    (``luma·n > total`` keeps the threshold in exact integers). Shared by
    ``mm_image_ahash`` (per-image rows) and ``mm_corpus_stats`` (rollup)."""
    blob = synth_ppm(mid, w, h)
    arr, _meta = decode_media(blob, "image/ppm")
    px = arr.astype("int64")
    gray = (
        px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114
    ).reshape(-1)
    n = int(gray.size)
    total = int(gray.sum())
    bits = gray * n > total
    ahash = 0
    for i in range(n):
        if bits[i]:
            ahash |= 1 << i
    return {
        "media_id": mid,
        "n_px": n,
        "gray_sum": total,
        "n_above": int(bits.sum()),
        "ahash": ahash,
    }


def mm_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash (aHash) perceptual image fingerprint over the real PPM
    decode — the image-modality entry point to the dedup ladder: two
    near-identical images produce hashes within a small Hamming distance,
    so downstream image dedup is a groupBy/bucket-join on the hash, the
    exact shape ``llm_dedup_exact``/``llm_dedup_near`` use for text.

    Per image: integer luma ``299·R + 587·G + 114·B`` (scaled ×1000 — no
    float rounding), then bit i of the hash is 1 iff pixel i's luma is
    STRICTLY above the image mean, tested as ``luma·n_px > sum_luma`` to
    stay in exact integer arithmetic (a divide would round differently at
    ties). Images here are ≤ 8×6 → ≤ 48 bits, so the hash fits a BIGINT.
    Shuffle-free mapInPandas; the oracle recomputes every bit in SQL, so a
    hash match proves decode + luma + threshold bit-for-bit."""
    d = table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.pmod(F.col("doc_id"), F.lit(5))).alias("w"),
        (F.lit(3) + F.pmod(F.col("doc_id"), F.lit(4))).alias("h"),
    )

    def gen_ahash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    _ahash_record(int(mid), int(w), int(h))
                    for mid, w, h in zip(pdf["media_id"], pdf["w"], pdf["h"])
                ]
            )

    return spread_input(base, "media_id").mapInPandas(
        gen_ahash,
        "media_id LONG, n_px LONG, gray_sum LONG, n_above LONG, ahash LONG",
    )


def mm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal capstone — decode → fingerprint → corpus rollup as ONE
    plan (the image-side twin of ``llm_corpus_pipeline``): every image is
    decoded with the real PPM parser and aHash-fingerprinted inside a
    single shuffle-free mapInPandas pass, then one aggregation reports
    corpus-level curation stats: image/pixel counts, exact distinct
    fingerprints (the dedup signal), and mean luma as a single IEEE
    division of exact integer sums. Scale shape: the decode never
    shuffles; the only exchange carries per-partition partials of a
    5-column aggregate. Distinct-hash counting is exact two-phase
    (partial sets are tiny — 48-bit hashes). The per-image pass IS
    ``mm_image_ahash`` — the capstone only adds the rollup, so the two
    operators can never desynchronize."""
    return mm_image_ahash(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_px").alias("total_px"),
        F.count_distinct(F.col("ahash")).alias("n_distinct_hash"),
        (
            F.floor(
                (F.sum("gray_sum") / F.sum("n_px")) * 1_000_000
            ) / 1_000_000
        ).alias("mean_luma"),
        F.max("ahash").alias("max_hash"),
    )


# Registered round 5 after the attestation unfreeze (pytest-verified
# value-for-value vs their oracles since r4 staging), plus the two r5-new
# follow-ons (bilinear resize, WHT spectrum) the codecs unlocked.
QUERIES.update(
    {
        "mm_decode_png": mm_decode_png,
        "mm_decode_jpeg": mm_decode_jpeg,
        "mm_audio_frames": mm_audio_frames,
        "mm_resize": mm_resize,
        "mm_resize_bilinear": mm_resize_bilinear,
        "mm_audio_spectrum": mm_audio_spectrum,
        "mm_image_ahash": mm_image_ahash,
        "mm_corpus_stats": mm_corpus_stats,
    }
)

# Oracle note: document text is pure ASCII (verified), so byte semantics on
# the Spark binary side equal char semantics on the DuckDB varchar side —
# DuckDB lacks blob substring/byte accessors, varchar is the portable route.
ORACLES = {
    "mm_binary_meta": (
        "SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,"
        " hex(encode(substring(text, 1, 8))) AS magic_hex,"
        " lang AS container, source AS origin,"
        " octet_length(encode(text)) = n_chars AS size_matches"
        " FROM documents"
    ),
    "mm_feature_extract": (
        "WITH u AS (SELECT doc_id AS media_id, length(text) AS n,"
        "        unnest(list_transform(generate_series(1, length(text)),"
        "               i -> unicode(text[i]))) AS byte_val"
        "       FROM documents)"
        " SELECT media_id, 4 AS feat_dim,"
        " ROUND(CAST(MAX(n) AS DOUBLE), 4) AS f_len,"
        " ROUND(SUM(CAST(byte_val AS DOUBLE)) / MAX(n), 4) AS f_mean,"
        " ROUND(CAST(MIN(byte_val) AS DOUBLE), 4) AS f_min,"
        " ROUND(CAST(MAX(byte_val) AS DOUBLE), 4) AS f_max"
        " FROM u GROUP BY media_id"
    ),
    # The decoded WAV features equal pure arithmetic on the sample formula:
    # 44-byte RIFF header + 2 bytes/sample; sample i = (id·131 + i·7919)
    # mod 65536 − 32768.
    "mm_decode_wav": (
        "WITH s AS (SELECT doc_id, 64 + doc_id % 37 AS n,"
        "        unnest(generate_series(0, 64 + doc_id % 37 - 1)) AS i"
        "        FROM documents),"
        " a AS (SELECT doc_id, n,"
        "        (doc_id * 131 + i * 7919) % 65536 - 32768 AS amp FROM s)"
        " SELECT doc_id AS media_id, 44 + 2 * n AS n_bytes,"
        " 1 AS n_channels, 16000 AS sample_rate, n AS n_samples,"
        " MIN(amp) AS amp_min, MAX(amp) AS amp_max,"
        " CAST(SUM(amp) AS BIGINT) AS amp_sum"
        " FROM a GROUP BY doc_id, n"
    ),
    # Decoded PPM features equal pure arithmetic: header "P6\n{w} {h}\n255\n"
    # is 11 bytes (w, h single-digit by construction); byte k of the payload
    # is (id·7 + row·31 + col·13 + ch·5) mod 256 with k = (row·w + col)·3 + ch.
    "mm_decode_ppm": (
        "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h"
        "           FROM documents),"
        " px AS (SELECT doc_id, w, h,"
        "        unnest(generate_series(0, w * h * 3 - 1)) AS k FROM d),"
        " v AS (SELECT doc_id, w, h, k % 3 AS ch,"
        "       (doc_id * 7 + ((k // 3) // w) * 31 + ((k // 3) % w) * 13"
        "        + (k % 3) * 5) % 256 AS val FROM px)"
        " SELECT doc_id AS media_id, CAST(MAX(w) AS INTEGER) AS width,"
        " CAST(MAX(h) AS INTEGER) AS height,"
        " 11 + MAX(w) * MAX(h) * 3 AS n_bytes,"
        " MIN(val) AS px_min, MAX(val) AS px_max,"
        " CAST(SUM(val) AS BIGINT) AS px_sum,"
        " CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,"
        " CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,"
        " CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum"
        " FROM v GROUP BY doc_id"
    ),
    "mm_frame_sample": (
        "WITH f AS (SELECT doc_id AS media_id, text,"
        "        unnest(range(0, LEAST(CAST(FLOOR((length(text) - 16)"
        "          / 64.0) AS BIGINT), 3) + 1)) AS frame_no"
        "       FROM documents WHERE length(text) >= 16)"
        " SELECT media_id, frame_no,"
        " hex(encode(substring(text, CAST(frame_no * 64 + 1 AS INTEGER), 16)))"
        "   AS frame_hex FROM f"
    ),
}

# Oracles for the round-5-registered codec twins (same pixel formulas as the
# PPM oracle; the PNG chain additionally proves filter+deflate round trips,
# the JPEG chain proves Huffman+IDCT round trips — both integer-exact).
_CODEC_ORACLES = {
    "mm_decode_png": (
        "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 5 + doc_id % 4 AS h"
        "           FROM documents),"
        " px AS (SELECT doc_id, w, h,"
        "        unnest(generate_series(0, w * h * 3 - 1)) AS k FROM d),"
        " v AS (SELECT doc_id, w, h, k % 3 AS ch,"
        "       (doc_id * 7 + ((k // 3) // w) * 31 + ((k // 3) % w) * 13"
        "        + (k % 3) * 5) % 256 AS val FROM px)"
        " SELECT doc_id AS media_id, CAST(MAX(w) AS INTEGER) AS width,"
        " CAST(MAX(h) AS INTEGER) AS height,"
        " MIN(val) AS px_min, MAX(val) AS px_max,"
        " CAST(SUM(val) AS BIGINT) AS px_sum,"
        " CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,"
        " CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,"
        " CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum"
        " FROM v GROUP BY doc_id"
    ),
    # Each 8x8 block (r, c) decodes flat to (id*7 + r*31 + c*13) % 256, so
    # the image sum is 64x the per-block value sum.
    "mm_decode_jpeg": (
        "WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb"
        "           FROM documents),"
        " b AS (SELECT doc_id, wb, hb,"
        "        unnest(generate_series(0, wb * hb - 1)) AS k FROM d),"
        " v AS (SELECT doc_id, wb, hb,"
        "       (doc_id * 7 + (k // wb) * 31 + (k % wb) * 13) % 256 AS val"
        "       FROM b)"
        " SELECT doc_id AS media_id, CAST(MAX(wb) * 8 AS INTEGER) AS width,"
        " CAST(MAX(hb) * 8 AS INTEGER) AS height, 1 AS n_components,"
        " MIN(val) AS px_min, MAX(val) AS px_max,"
        " CAST(SUM(val) * 64 AS BIGINT) AS px_sum"
        " FROM v GROUP BY doc_id"
    ),
    "mm_audio_frames": (
        "WITH s AS (SELECT doc_id, 800 + doc_id % 400 AS n,"
        "        unnest(generate_series(0, 800 + doc_id % 400 - 1)) AS i"
        "        FROM documents),"
        " a AS (SELECT doc_id, i, i // 400 AS frame_no,"
        "        (doc_id * 131 + i * 7919) % 65536 - 32768 AS amp FROM s),"
        " l AS (SELECT doc_id, frame_no, amp,"
        "        LAG(amp) OVER (PARTITION BY doc_id, frame_no ORDER BY i)"
        "          AS pamp FROM a)"
        " SELECT doc_id AS media_id, frame_no,"
        " COUNT(*) AS n_in_frame,"
        " CAST(SUM(amp * amp) AS BIGINT) AS energy,"
        " CAST(SUM(CASE WHEN pamp IS NOT NULL AND pamp * amp < 0"
        "          THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross,"
        " MAX(ABS(amp)) AS amp_peak"
        " FROM l GROUP BY doc_id, frame_no"
    ),
    # NN resize oracle: out pixel (r, c, ch) of the 3x3 thumbnail samples
    # src (r*h//3, c*w//3); value from the synth_ppm formula.
    "mm_resize": (
        "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h"
        "           FROM documents),"
        " g AS (SELECT doc_id, w, h,"
        "        unnest(generate_series(0, 26)) AS k FROM d),"
        " v AS (SELECT doc_id, w, h, k // 9 AS r, (k // 3) % 3 AS c,"
        "        k % 3 AS ch,"
        "        (doc_id * 7 + ((k // 9) * h // 3) * 31"
        "         + (((k // 3) % 3) * w // 3) * 13 + (k % 3) * 5) % 256"
        "          AS val FROM g)"
        " SELECT doc_id AS media_id, 3 AS out_w, 3 AS out_h,"
        " CAST(SUM(val) AS BIGINT) AS px_sum,"
        " CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,"
        " CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,"
        " CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum,"
        " CAST(MAX(CASE WHEN r = 0 AND c = 0 AND ch = 0 THEN val END)"
        "      AS BIGINT) AS top_left,"
        " CAST(MAX(CASE WHEN r = 2 AND c = 2 AND ch = 2 THEN val END)"
        "      AS BIGINT) AS bottom_right"
        " FROM v GROUP BY doc_id"
    ),
    # Fixed-point bilinear (align-corners to 3x3): src = out*(dim-1)/2 is an
    # integer or exact half, so the 4-tap blend has denominator 4 — the *4
    # columns are quarter-pixel units and every term is exact integer
    # arithmetic on the synth_ppm formula. LEAST clamps the +1 neighbor
    # where its weight is 0 anyway (frac = 0 at the last row/col).
    "mm_resize_bilinear": (
        "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h"
        "           FROM documents),"
        " g AS (SELECT doc_id, w, h,"
        "        unnest(generate_series(0, 26)) AS kk FROM d),"
        " m AS (SELECT doc_id, w, h, kk // 9 AS r, (kk // 3) % 3 AS c,"
        "        kk % 3 AS ch FROM g),"
        " b AS (SELECT doc_id, w, h, r, c, ch,"
        "        (r * (h - 1)) // 2 AS r0, (r * (h - 1)) % 2 AS fr2,"
        "        (c * (w - 1)) // 2 AS c0, (c * (w - 1)) % 2 AS fc2,"
        "        LEAST((r * (h - 1)) // 2 + 1, h - 1) AS r1,"
        "        LEAST((c * (w - 1)) // 2 + 1, w - 1) AS c1 FROM m),"
        " v AS (SELECT doc_id, r, c, ch,"
        "   (2 - fr2) * (2 - fc2)"
        "     * ((doc_id * 7 + r0 * 31 + c0 * 13 + ch * 5) % 256)"
        " + (2 - fr2) * fc2"
        "     * ((doc_id * 7 + r0 * 31 + c1 * 13 + ch * 5) % 256)"
        " + fr2 * (2 - fc2)"
        "     * ((doc_id * 7 + r1 * 31 + c0 * 13 + ch * 5) % 256)"
        " + fr2 * fc2"
        "     * ((doc_id * 7 + r1 * 31 + c1 * 13 + ch * 5) % 256) AS val4"
        "       FROM b)"
        " SELECT doc_id AS media_id, 3 AS out_w, 3 AS out_h,"
        " CAST(SUM(val4) AS BIGINT) AS px4_sum,"
        " CAST(SUM(CASE WHEN ch = 0 THEN val4 ELSE 0 END) AS BIGINT)"
        "   AS r4_sum,"
        " CAST(SUM(CASE WHEN ch = 1 THEN val4 ELSE 0 END) AS BIGINT)"
        "   AS g4_sum,"
        " CAST(SUM(CASE WHEN ch = 2 THEN val4 ELSE 0 END) AS BIGINT)"
        "   AS b4_sum,"
        " CAST(MAX(CASE WHEN r = 0 AND c = 0 AND ch = 0 THEN val4 END)"
        "      AS BIGINT) AS top_left4,"
        " CAST(MAX(CASE WHEN r = 1 AND c = 1 AND ch = 1 THEN val4 END)"
        "      AS BIGINT) AS center4,"
        " CAST(MAX(CASE WHEN r = 2 AND c = 2 AND ch = 2 THEN val4 END)"
        "      AS BIGINT) AS bottom_right4"
        " FROM v GROUP BY doc_id"
    ),
    # Walsh-Hadamard spectrum: coefficient k over the first 64 samples is
    # SUM(amp_i * (-1)^popcount(i & k)) — pure +/- integer arithmetic on
    # the synth_wav sample formula.
    "mm_audio_spectrum": (
        "WITH s AS (SELECT doc_id, unnest(generate_series(0, 63)) AS i"
        "           FROM documents),"
        " a AS (SELECT doc_id, i,"
        "        (doc_id * 131 + i * 7919) % 65536 - 32768 AS amp FROM s),"
        " x AS (SELECT doc_id, i, amp,"
        "        unnest(generate_series(0, 7)) AS k FROM a)"
        " SELECT doc_id AS media_id, CAST(k AS BIGINT) AS k,"
        " CAST(SUM(amp * CASE WHEN bit_count(CAST(i & k AS BIGINT)) % 2 = 0"
        "                     THEN 1 ELSE -1 END) AS BIGINT) AS coeff"
        " FROM x GROUP BY doc_id, k"
    ),
}
# aHash oracle: luma of pixel k (row-major) is pure arithmetic on the
# synth_ppm formula; the hash bit test stays in integers (luma·n > total).
_CODEC_ORACLES["mm_image_ahash"] = (
    "WITH d AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h"
    "           FROM documents),"
    " g AS (SELECT doc_id, w, h,"
    "        unnest(generate_series(0, w * h - 1)) AS k FROM d),"
    " p AS (SELECT doc_id, w * h AS n, k,"
    "   299 * ((doc_id * 7 + (k // w) * 31 + (k % w) * 13) % 256)"
    " + 587 * ((doc_id * 7 + (k // w) * 31 + (k % w) * 13 + 5) % 256)"
    " + 114 * ((doc_id * 7 + (k // w) * 31 + (k % w) * 13 + 10) % 256)"
    "     AS gray FROM g),"
    " t AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) AS total"
    "       FROM p GROUP BY doc_id)"
    " SELECT p.doc_id AS media_id, CAST(p.n AS BIGINT) AS n_px,"
    " t.total AS gray_sum,"
    " CAST(SUM(CASE WHEN p.gray * p.n > t.total THEN 1 ELSE 0 END)"
    "      AS BIGINT) AS n_above,"
    " CAST(SUM(CASE WHEN p.gray * p.n > t.total"
    "          THEN CAST(1 AS BIGINT) << p.k ELSE 0 END) AS BIGINT) AS ahash"
    " FROM p JOIN t ON p.doc_id = t.doc_id GROUP BY p.doc_id, p.n, t.total"
)

# Capstone oracle: a rollup COMPOSED over the per-image aHash oracle, so
# the synth_ppm pixel/luma arithmetic lives in exactly one SQL place.
_CODEC_ORACLES["mm_corpus_stats"] = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_images,"
    " CAST(SUM(n_px) AS BIGINT) AS total_px,"
    " CAST(COUNT(DISTINCT ahash) AS BIGINT) AS n_distinct_hash,"
    " FLOOR((CAST(SUM(gray_sum) AS DOUBLE) / CAST(SUM(n_px) AS DOUBLE))"
    "       * 1000000) / 1000000 AS mean_luma,"
    " MAX(ahash) AS max_hash"
    f" FROM ({_CODEC_ORACLES['mm_image_ahash']}) img"
)

ORACLES.update(_CODEC_ORACLES)


# ---------------------------------------------------------------------------
# binaryFile directory scan — the production media-ingest source shape
# ---------------------------------------------------------------------------


def _stage_media_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage one deterministic ``media_{key}.ppm`` per supplier (sharded
    into ``shard=N/`` subdirs, plus a non-media decoy) under a per-user,
    per-sf directory. Test fixture only: in production the object-store
    prefix already exists and this staging step disappears. Writes are
    tmp-file + ``os.replace`` so a concurrent same-uid reader never sees a
    torn file; content is a pure function of the key, so re-staging is
    idempotent. The whole stage-and-reconcile pass holds an exclusive
    ``flock`` on a per-directory lockfile (ADVICE r6): without it, process
    A's orphan-reconcile sweep could delete a file process B had just
    staged (the tmp-file protocol only prevents torn files, not that
    delete race); with it, concurrent stagers serialize and each leaves
    the directory in the full staged state before the next one scans.
    Scope: the lock is POSIX-only (``fcntl`` absent → stagers fall back
    to tmp+replace atomicity alone, re-opening the stage/reconcile race;
    use an atomic lock-dir there if it ever matters) and serializes
    STAGERS only — an external reader listing the directory mid-reconcile
    of another process is out of scope for this test fixture."""
    import glob
    import os
    import tempfile

    from iot_data_pipeline_spark.operators._util import per_user_tmp_suffix

    uid = per_user_tmp_suffix()
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_media_{uid}", tag)
    keys = {
        int(r[0])
        for r in table(spark, sf_dir, "supplier").select("s_suppkey").collect()
    }
    os.makedirs(base, exist_ok=True)

    def _write(dest: str, data: bytes) -> None:
        # pid-unique tmp name: two same-uid stagers (bench + tests) must
        # not interleave writes into one tmp file or race the rename; the
        # final os.replace keeps readers from ever seeing a torn file.
        tmp = f"{dest}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, dest)

    try:
        import fcntl
    except ImportError:  # non-POSIX: no flock; tmp+replace still holds
        fcntl = None
    lock_fh = open(os.path.join(base, ".stage.lock"), "a")
    try:
        if fcntl is not None:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
        for k in sorted(keys):
            shard = os.path.join(base, f"shard={k % 4}")
            os.makedirs(shard, exist_ok=True)
            _write(
                os.path.join(shard, f"media_{k}.ppm"),
                synth_ppm(k, 4 + k % 5, 3 + k % 4),
            )
        # Reconcile: a regenerated testdata set (fewer suppliers) or a
        # basename collision must not leave orphan .ppm files for the
        # listing to decode — the oracle is built from the CURRENT supplier
        # table. The check is the full expected path (key AND shard
        # placement): a valid key in the wrong shard directory would
        # otherwise be listed TWICE.
        for path in glob.glob(
            os.path.join(base, "**", "media_*.ppm"), recursive=True
        ):
            stem = os.path.basename(path)[len("media_") : -len(".ppm")]
            expected = (
                os.path.join(base, f"shard={int(stem) % 4}", f"media_{stem}.ppm")
                if stem.isdigit()
                else None
            )
            if expected is None or int(stem) not in keys or path != expected:
                try:
                    os.remove(path)
                except OSError:
                    pass
        _write(os.path.join(base, "README.txt"), b"not media\n")
    finally:
        lock_fh.close()  # releases the flock
    return base


def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.format("binaryFile")`` over a staged media directory —
    the source shape a production media corpus starts from (an object-store
    prefix of image files), where the synth-blob mm_* family starts from a
    parquet binary column instead. ``pathGlobFilter`` excludes non-media
    files at LISTING time (the decoy README is never opened),
    ``recursiveFileLookup`` walks the shard subdirs, and the filename key
    is parsed JVM-side before the real PPM decode runs in one
    Arrow-batched mapInPandas.

    100 TB shape: binaryFile packs many small files into each task by
    ``spark.sql.files.openCostInBytes`` / ``maxPartitionBytes`` (partition
    count scales with the listing — plan-tested), and never splits a
    single file, so each blob is decoded exactly once by one task. The
    driver stages the fixture files (dimension-table-sized, test-only);
    the scan itself lists and reads fully distributed."""
    base = _stage_media_dir(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .option("recursiveFileLookup", "true")
        .load(base)
        .select(
            F.regexp_extract(F.col("path"), r"media_(\d+)\.ppm$", 1)
            .cast("long")
            .alias("media_id"),
            "content",
        )
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                data = bytes(blob)
                arr, meta = decode_media(data, "image/ppm")
                flat = arr.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": meta["width"],
                        "height": meta["height"],
                        "n_bytes": len(data),
                        "px_sum": int(flat.sum()),
                        "r_sum": int(arr[:, :, 0].sum()),
                        "g_sum": int(arr[:, :, 1].sum()),
                        "b_sum": int(arr[:, :, 2].sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return files.mapInPandas(
        gen_decode,
        "media_id LONG, width INT, height INT, n_bytes LONG,"
        " px_sum LONG, r_sum LONG, g_sum LONG, b_sum LONG",
    )


def scan_binary_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` over the SAME staged media directory read as a
    PARTITIONED table (round-6 verdict stretch): the ``shard=N`` subdirs
    are hive-style partition directories, so without
    ``recursiveFileLookup`` Spark infers a ``shard`` partition column and
    the ``shard = 1`` predicate prunes three quarters of the listing at
    PLAN time (PartitionFilters, plan-tested) — the production shape for
    an object-store media corpus laid out by date/shard, where a day's
    job must never list the whole bucket. The decode then runs only on
    the surviving files, carrying the directory-derived partition value
    through to the output (so a misplaced file would surface as a
    shard/key mismatch against the oracle)."""
    base = _stage_media_dir(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(base)
        .filter(F.col("shard") == 1)
        .select(
            F.col("shard").cast("int").alias("shard"),
            F.regexp_extract(F.col("path"), r"media_(\d+)\.ppm$", 1)
            .cast("long")
            .alias("media_id"),
            "content",
        )
    )

    def gen_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for shard, mid, blob in zip(
                pdf["shard"], pdf["media_id"], pdf["content"]
            ):
                data = bytes(blob)
                arr, meta = decode_media(data, "image/ppm")
                rows.append(
                    {
                        "shard": int(shard),
                        "media_id": int(mid),
                        "width": meta["width"],
                        "height": meta["height"],
                        "n_bytes": len(data),
                        "px_sum": int(arr.reshape(-1).astype("int64").sum()),
                    }
                )
            yield pd.DataFrame(rows)

    return files.mapInPandas(
        gen_decode,
        "shard INT, media_id LONG, width INT, height INT,"
        " n_bytes LONG, px_sum LONG",
    )


QUERIES["scan_binary_files"] = scan_binary_files
QUERIES["scan_binary_partitioned"] = scan_binary_partitioned

# The staged bytes are synth_ppm(s_suppkey, ...), so the oracle recomputes
# every decoded pixel from the supplier keys — same arithmetic as the
# mm_decode_ppm oracle, proving the file round trip (stage → list → read →
# decode) is lossless end to end.
ORACLES["scan_binary_files"] = (
    "WITH d AS (SELECT s_suppkey AS mid, 4 + s_suppkey % 5 AS w,"
    "           3 + s_suppkey % 4 AS h FROM supplier),"
    " px AS (SELECT mid, w, h,"
    "        unnest(generate_series(0, w * h * 3 - 1)) AS k FROM d),"
    " v AS (SELECT mid, w, h, k % 3 AS ch,"
    "       (mid * 7 + ((k // 3) // w) * 31 + ((k // 3) % w) * 13"
    "        + (k % 3) * 5) % 256 AS val FROM px)"
    " SELECT mid AS media_id, CAST(MAX(w) AS INTEGER) AS width,"
    " CAST(MAX(h) AS INTEGER) AS height,"
    " 11 + MAX(w) * MAX(h) * 3 AS n_bytes,"
    " CAST(SUM(val) AS BIGINT) AS px_sum,"
    " CAST(SUM(CASE WHEN ch = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,"
    " CAST(SUM(CASE WHEN ch = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,"
    " CAST(SUM(CASE WHEN ch = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum"
    " FROM v GROUP BY mid"
)

# Same synthetic-pixel arithmetic, restricted to the shard=1 partition
# (s_suppkey % 4 = 1 by the staging layout) — proves both the pruned read
# and that the directory-derived partition value matches the key.
ORACLES["scan_binary_partitioned"] = (
    "WITH d AS (SELECT s_suppkey AS mid, 4 + s_suppkey % 5 AS w,"
    "           3 + s_suppkey % 4 AS h FROM supplier"
    "           WHERE s_suppkey % 4 = 1),"
    " px AS (SELECT mid, w, h,"
    "        unnest(generate_series(0, w * h * 3 - 1)) AS k FROM d),"
    " v AS (SELECT mid, w, h,"
    "       (mid * 7 + ((k // 3) // w) * 31 + ((k // 3) % w) * 13"
    "        + (k % 3) * 5) % 256 AS val FROM px)"
    " SELECT CAST(1 AS INTEGER) AS shard, mid AS media_id,"
    " CAST(MAX(w) AS INTEGER) AS width,"
    " CAST(MAX(h) AS INTEGER) AS height,"
    " 11 + MAX(w) * MAX(h) * 3 AS n_bytes,"
    " CAST(SUM(val) AS BIGINT) AS px_sum"
    " FROM v GROUP BY mid"
)
