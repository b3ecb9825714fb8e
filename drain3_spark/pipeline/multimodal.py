"""Multimodal (binary-payload) processing plumbing.

Pattern: opaque ``binary`` column + typed metadata columns; decode /
feature-extract / resize / frame-sample run as batched Arrow
``mapInPandas`` UDFs with bounded batch sizes (binary payloads dominate
Arrow batch memory — ``spark.sql.execution.arrow.maxRecordsPerBatch``).

Audio is REAL end-to-end here (drain3_spark.audio implements the
codecs; audio operators run in the shared per-clip loop,
:func:`drain3_spark.audio.runner.map_clips`).  Image decode is real — library-free — for binary PPM/PGM
(P6/P5), 24-bit BI_RGB BMP, PNG (stdlib zlib), baseline JPEG
(:mod:`drain3_spark.pipeline.jpeg`), GIF87a/89a (real LZW), and
baseline TIFF (uncompressed + PackBits, both byte orders); Pillow is
auto-detected when importable for anything else (WebP, ...).  Video
frame-sampling is real for raw YUV4MPEG2 (Y4M, 4:2:0) via a pure-numpy
decoder with BT.601 YUV→RGB; compressed video (H.264/VP9) remains a
declared STUB.  The Spark-side plumbing (schema, batching, UDF
signature, partitioning) is identical for every container.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from drain3_spark.audio.runner import map_clips

AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zero_crossings", T.IntegerType()),
])

AUDIO_SPECTRAL_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("dominant_freq_hz", T.DoubleType()),
    T.StructField("centroid_hz", T.DoubleType()),
    T.StructField("rolloff_hz", T.DoubleType()),
    T.StructField("flatness", T.DoubleType()),
    T.StructField("silence_ratio", T.DoubleType()),
    T.StructField("clipping_ratio", T.DoubleType()),
])

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("item_id", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("width", T.IntegerType()),       # null with fake decoder
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("histogram", T.ArrayType(T.DoubleType())),  # 16-bin luma hist
])

RESIZED_SCHEMA = T.StructType([
    T.StructField("item_id", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("pixels", T.BinaryType()),       # row-major RGB bytes
])


def audio_features(clips: DataFrame) -> DataFrame:
    """Real decode → per-clip acoustic features (RMS, peak, ZCR)."""
    def extract(rows):
        for (cid, _, sr, _c), pcm in rows:
            if pcm is None:
                yield (cid, 0, 0.0, 0.0, 0.0, 0)
                continue
            n = len(pcm)
            zc = int(np.count_nonzero(np.diff(np.signbit(pcm)))) if n > 1 else 0
            yield (cid, n, n / float(sr) if sr else 0.0,
                   float(np.sqrt(np.mean(pcm ** 2))) if n else 0.0,
                   float(np.max(np.abs(pcm))) if n else 0.0, zc)

    return map_clips(clips, extract, AUDIO_FEATURES_SCHEMA)


def audio_spectral_features(clips: DataFrame,
                            silence_frame_ms: int = 20,
                            silence_rms: float = 0.01,
                            rolloff_pct: float = 0.85) -> DataFrame:
    """Real DSP over decoded PCM — the audio-quality half of a
    training-data pipeline, pure numpy (rFFT), no external DSP libs:

    * ``dominant_freq_hz`` — argmax of the magnitude spectrum;
    * ``centroid_hz`` / ``rolloff_hz`` — spectral centroid and the
      frequency below which ``rolloff_pct`` of spectral energy lies;
    * ``flatness`` — geometric/arithmetic mean ratio of the power
      spectrum (≈0 for tones, →1 for white noise) — a
      noise-vs-content quality signal;
    * ``silence_ratio`` — fraction of ``silence_frame_ms`` frames whose
      RMS is below ``silence_rms`` (dead-air detector);
    * ``clipping_ratio`` — fraction of samples at digital full scale.

    Same per-clip Arrow loop as :func:`audio_features`
    (:func:`drain3_spark.audio.runner.map_clips`); FFT length is the
    clip length (one clip never leaves its task).  Undecodable
    payloads yield null features (the decode CHECK family owns
    flagging them)."""
    nulls = (None,) * 6

    def extract(rows):
        for (cid, _, sr, _c), pcm in rows:
            if pcm is None:
                yield (cid, 0) + nulls
                continue
            pcm = pcm.astype(np.float64)
            n = len(pcm)
            if n == 0 or not sr:
                yield (cid, n) + nulls
                continue
            mag = np.abs(np.fft.rfft(pcm))
            freqs = np.fft.rfftfreq(n, d=1.0 / float(sr))
            mag[0] = 0.0                     # drop DC for all stats
            power = mag ** 2
            ptot = float(power.sum())
            if ptot <= 0.0:
                dom = cen = roll = 0.0
                flat = None
            else:
                dom = float(freqs[int(np.argmax(mag))])
                cen = float((freqs * mag).sum() / mag.sum())
                cum = np.cumsum(power)
                roll = float(freqs[int(np.searchsorted(
                    cum, rolloff_pct * ptot))])
                p = power[1:]
                flat = float(np.exp(np.mean(np.log(p + 1e-20)))
                             / (np.mean(p) + 1e-20))
            frame = max(int(sr) * silence_frame_ms // 1000, 1)
            nf = n // frame
            if nf > 0:
                fr = pcm[:nf * frame].reshape(nf, frame)
                frms = np.sqrt(np.mean(fr ** 2, axis=1))
                sil = float(np.mean(frms < silence_rms))
            else:
                sil = float(np.sqrt(np.mean(pcm ** 2)) < silence_rms)
            clip_r = float(np.mean(np.abs(pcm) >= 0.999))
            yield (cid, n, dom, cen, roll, flat, sil, clip_r)

    return map_clips(clips, extract, AUDIO_SPECTRAL_SCHEMA)


def _pnm_header(data: bytes):
    """Parse a PNM header (magic already checked): returns
    (width, height, maxval, raster_offset).  Comments (#...) and runs of
    whitespace are allowed between tokens; exactly one whitespace byte
    separates maxval from the raster (netpbm spec)."""
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data):
            c = data[pos:pos + 1]
            if c == b"#":
                pos = data.index(b"\n", pos) + 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        vals.append(int(data[start:pos]))
    return vals[0], vals[1], vals[2], pos + 1


def _decode_pnm(data: bytes) -> np.ndarray:
    magic = data[:2]
    w, h, maxval, off = _pnm_header(data)
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    if magic == b"P6":
        return (np.frombuffer(data, np.uint8, count=w * h * 3, offset=off)
                .reshape(h, w, 3))
    return (np.frombuffer(data, np.uint8, count=w * h, offset=off)
            .reshape(h, w, 1))


def _decode_bmp(data: bytes) -> np.ndarray:
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if comp != 0 or bpp != 24:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP (got bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3          # rows padded to 4 bytes
    rows = (np.frombuffer(data, np.uint8, count=stride * h, offset=pix_off)
            .reshape(h, stride))
    img = rows[:, :w * 3].reshape(h, w, 3)[..., ::-1]   # BGR -> RGB
    if bottom_up:
        img = img[::-1]
    return np.ascontiguousarray(img)


# PNG filter type codes (RFC 2083 §6)
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline PNG filtering (None/Sub/Up/Average/Paeth).

    ``raw`` is the inflated byte stream: h rows of (1 filter byte +
    stride image bytes).  Rows are sequential by construction (each
    depends on the fully reconstructed previous row); within a row,
    Sub/Average/Paeth recur on the pixel ``bpp`` bytes to the left, so
    the inner loop is per-byte — fine for the bounded thumbnails this
    pipeline decodes per Arrow batch."""
    img = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(raw[pos])
        row = raw[pos + 1: pos + 1 + stride].astype(np.int32)
        pos += 1 + stride
        if ftype == 0:                     # None
            cur = row
        elif ftype == 1:                   # Sub
            cur = row.copy()
            for i in range(bpp, stride):
                cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
        elif ftype == 2:                   # Up
            cur = (row + prev) & 0xFF
        elif ftype == 3:                   # Average
            cur = row.copy()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:                   # Paeth
            cur = row.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise NotImplementedError(f"PNG filter type {ftype}")
        img[y] = cur.astype(np.uint8)
        prev = cur
    return img


def _decode_png(data: bytes) -> np.ndarray:
    """Pure stdlib-zlib + numpy PNG decoder: 8-bit depth, color types
    0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
    non-interlaced.  Alpha is dropped (matching the Pillow path's
    ``convert("RGB")`` semantics); gray stays 1-channel like PGM.
    Interlaced (Adam7) and 16-bit images raise a declared
    ``NotImplementedError``."""
    import zlib
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, plte = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(data):
        (length,), tag = struct.unpack_from(">I", data, pos), data[pos + 4:pos + 8]
        body = data[pos + 8: pos + 8 + length]
        pos += 12 + length                 # len + tag + body + crc
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth} / interlace {interlace} not supported "
            "(8-bit non-interlaced only)")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise NotImplementedError(f"PNG color type {ctype}")
    stride = w * nch
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG inflated size mismatch (corrupt IDAT)")
    img = _png_unfilter(raw, h, stride, nch).reshape(h, w, nch)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        return np.ascontiguousarray(plte[img[..., 0]])
    if ctype == 4:
        return np.ascontiguousarray(img[..., :1])    # drop alpha
    if ctype == 6:
        return np.ascontiguousarray(img[..., :3])    # drop alpha
    return np.ascontiguousarray(img)


def encode_png(img: np.ndarray) -> bytes:
    """Minimal PNG writer (filter 0, one IDAT) for (H, W, 1|3) uint8 —
    fixture/test-side counterpart of :func:`_decode_png`."""
    import zlib
    h, w, nch = img.shape
    ctype = {1: 0, 3: 2}[nch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    rows = b"".join(b"\x00" + img[y].tobytes() for y in range(h))

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(rows))
            + chunk(b"IEND", b""))


def _lzw_decode(data: bytes, min_code_size: int, expected: int) -> np.ndarray:
    """GIF-variant LZW: variable code width starting at
    ``min_code_size``+1, CLEAR and END codes, width grows after the
    table fills (cap 12 bits).  Returns ``expected`` pixel indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(expected, np.uint8)
    n_out = 0
    acc = bits = 0
    pos = 0
    width = min_code_size + 1
    table: list = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev = None
    while n_out < expected:
        while bits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << bits    # LSB-first packing
            bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        bits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt GIF LZW code")
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        take = min(len(entry), expected - n_out)
        out[n_out:n_out + take] = np.frombuffer(entry[:take], np.uint8)
        n_out += take
        prev = entry
    if n_out < expected:
        raise ValueError("GIF pixel data short")
    return out


def _decode_gif(data: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a as (H, W, 3) uint8 (palette mapped;
    transparency index rendered as its palette color — single-image
    decode, no compositing)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, flags = struct.unpack_from("<HHB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x3B:                 # trailer
            break
        if b0 == 0x21:                 # extension: skip sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block {b0:#x}")
        left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            pal = np.frombuffer(data[pos:pos + 3 * n],
                                np.uint8).reshape(-1, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image without color table")
        min_code = data[pos]
        pos += 1
        chunks = []
        while data[pos] != 0:
            ln = data[pos]
            chunks.append(data[pos + 1: pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(b"".join(chunks), min_code, iw * ih).reshape(ih, iw)
        if iflags & 0x40:              # interlaced: 4-pass row order
            rows = np.concatenate([np.arange(0, ih, 8),
                                   np.arange(4, ih, 8),
                                   np.arange(2, ih, 4),
                                   np.arange(1, ih, 2)])
            deinter = np.empty_like(idx)
            deinter[rows] = idx
            idx = deinter
        return np.ascontiguousarray(pal[idx])
    raise ValueError("GIF missing image descriptor")


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773)."""
    out = bytearray()
    pos = 0
    while len(out) < expected and pos < len(data):
        n = data[pos]
        pos += 1
        if n < 128:                    # literal run of n+1 bytes
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:                  # repeat next byte 257-n times
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("TIFF PackBits data short")
    return bytes(out[:expected])


def _decode_tiff(data: bytes) -> np.ndarray:
    """Baseline TIFF: first IFD, uncompressed (1) or PackBits (32773),
    8-bit grayscale or RGB, strip-organized, both byte orders.  Other
    compressions (LZW/JPEG-in-TIFF/deflate) raise a declared
    ``NotImplementedError``."""
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
    (n_entries,) = struct.unpack_from(bo + "H", data, ifd_off)
    # type sizes for the tag values we read (SHORT/LONG)
    tags: Dict[int, list] = {}
    for e in range(n_entries):
        off = ifd_off + 2 + 12 * e
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, off)
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue                   # rational/ascii tags: not needed
        total = size * cnt
        if total <= 4:
            raw = data[off + 8: off + 8 + total]
        else:
            (voff,) = struct.unpack_from(bo + "I", data, off + 8)
            raw = data[voff: voff + total]
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(bo + fmt * cnt, raw))

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    w, h = one(256), one(257)
    if w is None or h is None:
        raise ValueError("TIFF missing dimensions")
    comp = one(259, 1)
    if comp not in (1, 32773):
        raise NotImplementedError(f"TIFF compression {comp} not supported "
                                  "(uncompressed and PackBits only)")
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    if any(b != 8 for b in bits):
        raise NotImplementedError(f"TIFF bit depths {bits} (8-bit only)")
    if spp not in (1, 3):
        raise NotImplementedError(f"{spp} samples per pixel")
    rows_per_strip = one(278, h)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets:
        raise ValueError("TIFF missing strip offsets")
    out = bytearray()
    for si, soff in enumerate(offsets):
        nrows = min(rows_per_strip, h - si * rows_per_strip)
        expected = nrows * w * spp
        if comp == 1:
            out += data[soff: soff + expected]
        else:
            cnt = counts[si] if counts and si < len(counts) else len(data) - soff
            out += _packbits_decode(data[soff: soff + cnt], expected)
    if len(out) < h * w * spp:
        raise ValueError("TIFF strip data short")
    img = np.frombuffer(bytes(out[:h * w * spp]), np.uint8).reshape(h, w, spp)
    # PhotometricInterpretation 0 = white-is-zero grayscale: invert
    if spp == 1 and one(262, 1) == 0:
        img = 255 - img
    return np.ascontiguousarray(img)


def encode_tiff(img: np.ndarray, packbits: bool = False,
                byte_order: str = "<") -> bytes:
    """Minimal TIFF writer for (H, W, 1|3) uint8 — one strip,
    uncompressed or PackBits, II (``"<"``) or MM (``">"``) byte order —
    fixture/test-side counterpart of :func:`_decode_tiff`."""
    h, w, spp = img.shape
    raw = img.tobytes()
    if packbits:
        # naive PackBits: runs of >=3 identical bytes as repeats
        out = bytearray()
        i = 0
        while i < len(raw):
            run = 1
            while (i + run < len(raw) and run < 128
                   and raw[i + run] == raw[i]):
                run += 1
            if run >= 3:
                out += bytes([257 - run, raw[i]])
                i += run
            else:
                j = i
                lit = bytearray()
                while j < len(raw):
                    nxt = 1
                    while (j + nxt < len(raw) and nxt < 3
                           and raw[j + nxt] == raw[j]):
                        nxt += 1
                    # a literal header encodes at most 128 bytes; 129
                    # would wrap to header 128 — the PackBits NO-OP —
                    # and desync the decoder
                    if nxt >= 3 or len(lit) + nxt > 128:
                        break
                    lit += raw[j:j + nxt]
                    j += nxt
                out += bytes([len(lit) - 1]) + lit
                i = j
        strip = bytes(out)
        comp = 32773
    else:
        strip, comp = raw, 1

    # layout: header(8) IFD(2 + n*12 + 4) bits-array strip; both image
    # shapes emit the same 8 tags, so offsets depend only on spp via
    # the out-of-line bits array
    ifd_off = 8
    n_tags = 8
    bits_off = ifd_off + 2 + n_tags * 12 + 4
    strip_off = bits_off + (2 * spp if spp == 3 else 0)
    entries = [                        # (tag, type, count, value_or_offset)
        (256, 3, 1, w),
        (257, 3, 1, h),
        (258, 3, 3, bits_off) if spp == 3 else (258, 3, 1, 8),
        (259, 3, 1, comp),
        (262, 3, 1, 2 if spp == 3 else 1),
        (273, 4, 1, strip_off),
        (277, 3, 1, spp),
        (279, 4, 1, len(strip)),
    ]
    assert len(entries) == n_tags
    bo = byte_order
    head = b"II*\x00" if bo == "<" else b"MM\x00*"
    out = bytearray(head) + struct.pack(bo + "I", ifd_off)
    out += struct.pack(bo + "H", len(entries))
    for tag, typ, cnt, val in sorted(entries):
        out += struct.pack(bo + "HHI", tag, typ, cnt)
        if typ == 3 and cnt == 1:
            # SHORT values sit in the first two bytes of the 4-byte
            # value field in FILE byte order
            out += struct.pack(bo + "HH", val, 0)
        else:
            out += struct.pack(bo + "I", val)
    out += struct.pack(bo + "I", 0)    # next-IFD pointer
    if spp == 3:
        out += struct.pack(bo + "HHH", 8, 8, 8)
    out += strip
    return bytes(out)


def encode_gif(idx: np.ndarray, palette: np.ndarray,
               interlace: bool = False) -> bytes:
    """Minimal GIF89a writer for an (H, W) uint8 index image + an
    (N, 3) palette — fixture/test-side counterpart of
    :func:`_decode_gif` (real LZW, optional interlace)."""
    h, w = idx.shape
    npal = len(palette)
    bits = max((npal - 1).bit_length(), 1)
    size = 1 << bits
    pal = np.zeros((size, 3), np.uint8)
    pal[:npal] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHB", w, h, 0x80 | (bits - 1)) + b"\x00\x00"
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    if interlace:
        rows = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                               np.arange(2, h, 4), np.arange(1, h, 2)])
        idx = idx[rows]
    min_code = max(bits, 2)
    out.append(min_code)

    # LZW encode (LSB-first variable-width codes)
    clear = 1 << min_code
    end = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code + 1
    acc = accbits = 0
    body = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += width
        while accbits >= 8:
            body.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    emit(clear)
    cur = b""
    for px in idx.tobytes():
        nxt = cur + bytes([px])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        # deferred width change: the decoder's table lags the encoder's
        # by one entry (it reconstructs entry i only on code i+1), so
        # the encoder widens at (1<<width)+1, one entry after its own
        # table passes the boundary
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4096:          # table full: reset
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code + 1
        cur = bytes([px])
    if cur:
        emit(table[cur])
    emit(end)
    if accbits:
        body.append(acc & 0xFF)
    for i in range(0, len(body), 255):
        chunk = body[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode image bytes to an (H, W, C) uint8 array.

    Decoders, in order:

    1. library-free decoders dispatched on magic bytes: binary PPM
       (P6), PGM (P5), 24-bit BI_RGB BMP, 8-bit non-interlaced PNG
       (stdlib zlib; gray / RGB / palette / alpha-dropped GA+RGBA, all
       five scanline filters), and baseline JPEG
       (:mod:`drain3_spark.pipeline.jpeg`: SOF0 sequential, gray +
       YCbCr 4:4:4/4:2:2/4:2:0, restart markers); the image path is
       real end-to-end without any media library, and the output
       (incl. channel count: PGM/gray-PNG/gray-JPEG stay 1-channel) is
       identical in every environment;
    2. Pillow for OTHER formats, auto-detected when importable; a
       genuine Pillow decode failure (corrupt payload, junk bytes) is
       re-raised CHAINED as ``ValueError`` — it must not masquerade as
       "Pillow missing" when the library is present;
    3. ``NotImplementedError`` only when Pillow is genuinely absent:
       the remaining formats (lossy WebP/VP8, JPEG 2000, AVIF, ...)
       need a codec library this container does not ship — a declared
       stub, same mapInPandas shape either way.  (GIF, TIFF, and
       lossless WebP/VP8L are decoded natively by the dispatch above,
       not via this fallback.)
    """
    raw = bytes(payload)
    if raw[:2] in (b"P5", b"P6"):
        return _decode_pnm(raw)
    if raw[:2] == b"BM":
        return _decode_bmp(raw)
    if raw[:8] == _PNG_SIG:
        return _decode_png(raw)
    if raw[:2] == b"\xff\xd8":
        from drain3_spark.pipeline.jpeg import decode_jpeg
        return decode_jpeg(raw)
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(raw)
    if raw[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(raw)
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        from drain3_spark.pipeline.webp import decode_webp
        return decode_webp(raw)       # VP8L lossless native; VP8 lossy
        #                               raises its own declared stub
    try:
        from PIL import Image  # optional dependency, absent here
    except ImportError:
        raise NotImplementedError(
            "compressed image formats require an image library (Pillow); "
            "PPM/PGM/BMP decode natively — or use fake_decoder=True for "
            "plumbing tests") from None
    import io
    try:
        return np.asarray(Image.open(io.BytesIO(raw)).convert("RGB"))
    except Exception as exc:
        raise ValueError(f"Pillow failed to decode payload: {exc}") from exc


def _resize_nn(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize by integer index mapping (pure numpy)."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]


def image_features(items: DataFrame, id_col: str = "item_id",
                   payload_col: str = "payload",
                   fake_decoder: bool = False) -> DataFrame:
    """Feature extraction over opaque image bytes: dimensions + 16-bin
    luma histogram from the REAL decode (PPM/PGM/BMP native, Pillow when
    present).

    ``fake_decoder=True`` substitutes a deterministic byte-histogram
    'decoder' (dimensions null) so the distributed plumbing is
    exercised on arbitrary payloads."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for iid, payload in zip(b[id_col], b[payload_col]):
                raw = bytes(payload)
                if fake_decoder:
                    arr = np.frombuffer(raw, dtype=np.uint8)
                    dims = (None, None, None)
                else:
                    img = decode_image(raw)
                    arr = img.mean(axis=2).astype(np.uint8).ravel()  # luma
                    dims = (img.shape[1], img.shape[0], img.shape[2])
                hist = np.bincount(arr >> 4, minlength=16).astype(np.float64)
                total = hist.sum() or 1.0
                out.append((iid, len(raw), *dims, list(hist / total)))
            yield pd.DataFrame(out,
                               columns=[f.name for f in IMAGE_FEATURES_SCHEMA])

    return (items.select(F.col(id_col), F.col(payload_col))
            .mapInPandas(extract, IMAGE_FEATURES_SCHEMA))


def resize_images(items: DataFrame, out_w: int, out_h: int,
                  id_col: str = "item_id",
                  payload_col: str = "payload") -> DataFrame:
    """Decode + nearest-neighbor resize to (out_w, out_h); emits
    row-major RGB bytes — the decode/transform half of an image
    training-data pipeline, in the same bounded-Arrow-batch shape as
    :func:`audio_features`."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for iid, payload in zip(b[id_col], b[payload_col]):
                img = decode_image(bytes(payload))
                if img.shape[2] == 1:                 # grayscale -> RGB
                    img = np.repeat(img, 3, axis=2)
                small = _resize_nn(img, out_h, out_w)
                out.append((iid, out_w, out_h, small.shape[2],
                            np.ascontiguousarray(small).tobytes()))
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED_SCHEMA])

    return (items.select(F.col(id_col), F.col(payload_col))
            .mapInPandas(resize, RESIZED_SCHEMA))


VIDEO_FRAMES_SCHEMA = T.StructType([
    T.StructField("item_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("pixels", T.BinaryType()),       # row-major RGB bytes
])


def _parse_y4m_header(data: bytes):
    """YUV4MPEG2 stream header -> (width, height, first_frame_offset).
    Only 4:2:0 (the default when no C tag is present, or C420*) is
    supported — it is the format's common case."""
    if not data.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "compressed video requires a media library; raw YUV4MPEG2 "
            "(Y4M) decodes natively")
    end = data.index(b"\n")
    w = h = None
    for tok in data[9:end].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
        elif tok.startswith(b"C") and not tok.startswith(b"C420"):
            raise NotImplementedError(f"only 4:2:0 Y4M supported, got {tok!r}")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    return w, h, end + 1


def _yuv420_to_rgb(y: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """BT.601 full-range YUV -> RGB, pure numpy (vectorized)."""
    u_full = u.repeat(2, axis=0).repeat(2, axis=1)[:y.shape[0], :y.shape[1]]
    v_full = v.repeat(2, axis=0).repeat(2, axis=1)[:y.shape[0], :y.shape[1]]
    yf = y.astype(np.float64)
    uf = u_full.astype(np.float64) - 128.0
    vf = v_full.astype(np.float64) - 128.0
    rgb = np.stack([yf + 1.402 * vf,
                    yf - 0.344136 * uf - 0.714136 * vf,
                    yf + 1.772 * uf], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def decode_y4m_frames(payload: bytes, every_nth: int = 1):
    """Iterate (frame_idx, HxWx3 RGB uint8) over a raw Y4M stream,
    keeping every ``every_nth`` frame.  Pure numpy."""
    w, h, pos = _parse_y4m_header(bytes(payload))
    data = bytes(payload)
    ysz, csz = w * h, (w // 2) * ((h + 1) // 2)
    frame_bytes = ysz + 2 * csz
    idx = 0
    while pos < len(data):
        nl = data.index(b"\n", pos)
        if not data[pos:nl].startswith(b"FRAME"):
            raise ValueError("corrupt Y4M frame marker")
        start = nl + 1
        if start + frame_bytes > len(data):
            break
        if idx % every_nth == 0:
            y = np.frombuffer(data, np.uint8, ysz, start).reshape(h, w)
            u = np.frombuffer(data, np.uint8, csz, start + ysz) \
                .reshape((h + 1) // 2, w // 2)
            v = np.frombuffer(data, np.uint8, csz, start + ysz + csz) \
                .reshape((h + 1) // 2, w // 2)
            yield idx, _yuv420_to_rgb(y, u, v)
        pos = start + frame_bytes
        idx += 1


def decode_avi_mjpeg_frames(payload: bytes, every_nth: int = 1):
    """Iterate (frame_idx, HxWx3 RGB uint8) over a Motion-JPEG AVI:
    RIFF('AVI ') container walked to its LIST('movi') chunk, video
    data chunks (``??dc``/``??db``) decoded by our own baseline JPEG
    decoder — COMPRESSED video end-to-end with no media library."""
    import struct as _st
    data = bytes(payload)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    def walk(pos, end):
        while pos + 8 <= end:
            tag = data[pos:pos + 4]
            size = _st.unpack("<I", data[pos + 4:pos + 8])[0]
            yield tag, pos + 8, size
            pos += 8 + size + (size & 1)

    movi = None
    for tag, body, size in walk(12, len(data)):
        if tag == b"LIST" and data[body:body + 4] == b"movi":
            movi = (body + 4, body + size)
            break
    if movi is None:
        raise ValueError("AVI: no movi list")
    idx = 0
    from drain3_spark.pipeline.jpeg import decode_jpeg
    for tag, body, size in walk(*movi):
        if tag[2:4] in (b"dc", b"db") and size > 0:
            if idx % every_nth == 0:
                frame = data[body:body + size]
                if frame[:2] != b"\xff\xd8":
                    raise ValueError("AVI: non-JPEG video chunk "
                                     "(only MJPEG is supported)")
                rgb = decode_jpeg(frame)
                if rgb.ndim == 2:
                    rgb = np.repeat(rgb[:, :, None], 3, axis=2)
                yield idx, rgb
            idx += 1


def encode_avi_mjpeg(frames, fps: int = 25, quality: int = 92) -> bytes:
    """Minimal valid Motion-JPEG AVI from a list of (H, W, 3) uint8
    frames (our own JPEG encoder per frame) — the round-trip fixture
    for :func:`decode_avi_mjpeg_frames`."""
    import struct as _st
    from drain3_spark.pipeline.jpeg import encode_jpeg
    h, w, _ = frames[0].shape
    payloads = [encode_jpeg(f, quality=quality) for f in frames]

    def chunk(tag, body):
        return tag + _st.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    avih = _st.pack("<14I", 1_000_000 // fps, 0, 0, 0x10, len(frames),
                    0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + _st.pack("<3I", 0, 0, 0)
            + _st.pack("<IIiIIiI", 1, fps, 0, len(frames), 0, -1, 0)
            + _st.pack("<4h", 0, 0, w, h))
    strf = _st.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                    w * h * 3, 0, 0, 0, 0)
    strl = b"LIST" + _st.pack(
        "<I", 4 + len(chunk(b"strh", strh)) + len(chunk(b"strf", strf))) \
        + b"strl" + chunk(b"strh", strh) + chunk(b"strf", strf)
    hdrl_body = b"hdrl" + chunk(b"avih", avih) + strl
    hdrl = b"LIST" + _st.pack("<I", len(hdrl_body)) + hdrl_body
    movi_body = b"movi" + b"".join(chunk(b"00dc", p) for p in payloads)
    movi = b"LIST" + _st.pack("<I", len(movi_body)) + movi_body
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + _st.pack("<I", len(riff_body)) + riff_body


def decode_video_frames(payload: bytes, every_nth: int = 1):
    """Container dispatch for video frame iteration: raw YUV4MPEG2
    (Y4M 4:2:0) and Motion-JPEG AVI decode natively; other compressed
    containers (H.264/VP9/...) raise the declared
    ``NotImplementedError``."""
    raw = bytes(payload)
    if raw[:9] == b"YUV4MPEG2":
        return decode_y4m_frames(raw, every_nth)
    if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
        return decode_avi_mjpeg_frames(raw, every_nth)
    raise NotImplementedError(
        "compressed video beyond MJPEG-AVI (H.264/VP9/...) requires a "
        "media library; Y4M and Motion-JPEG AVI decode natively")


def sample_video_frames(items: DataFrame, every_nth: int = 1,
                        id_col: str = "item_id",
                        payload_col: str = "payload") -> DataFrame:
    """Frame sampling over opaque video bytes — one output row per
    (item, kept frame), RGB pixels as row-major bytes.

    REAL for raw YUV4MPEG2 (Y4M, 4:2:0) and for COMPRESSED Motion-JPEG
    AVI (our own container walk + baseline JPEG decode); other
    compressed containers raise ``NotImplementedError`` (declared: no
    media library in this container).  Same bounded-Arrow-batch
    mapInPandas shape as :func:`audio_features` — at scale one video's
    frames never leave its task until sampled."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for iid, payload in zip(b[id_col], b[payload_col]):
                for idx, rgb in decode_video_frames(payload, every_nth):
                    out.append((iid, idx, rgb.shape[1], rgb.shape[0],
                                np.ascontiguousarray(rgb).tobytes()))
            yield pd.DataFrame(out,
                               columns=[f.name for f in VIDEO_FRAMES_SCHEMA])

    return (items.select(F.col(id_col), F.col(payload_col))
            .mapInPandas(sample, VIDEO_FRAMES_SCHEMA))
