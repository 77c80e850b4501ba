"""Multimodal (binary-column) plumbing.

The reference's media path is: opaque bytes → decode → resize →
normalize → feature (reference/datasets/videoset.py:66-139). Here media
are opaque ``binary`` columns with typed metadata; every decode/feature
operator runs through one Arrow-batched loop, :func:`map_blobs`, so
bytes cross the JVM↔Python boundary once per batch, never per row, and
the P9 frame-validity rule lives in one place.

Four media paths are REAL end-to-end with stdlib-only codecs:

- audio: :func:`decode_audio` parses WAV containers with ``wave``
  (header + PCM frames, byte round-trip tested); :func:`audio_meta`
  reduces the PCM to amplitude aggregates (``multimodal_audio``) and
  :func:`audio_spectral` to rFFT peak bins (``audio_spectral``);
- image: :func:`decode_image` parses uncompressed 24-bit BMP with
  ``struct`` (BGR order, bottom-up rows, 4-byte padding — pixel
  round-trip tested), compressed PNG with :func:`decode_png`
  (stdlib zlib inflate + full scanline filter reconstruction, types
  0-4; gray/RGB/RGBA/gray+alpha at 8/16-bit, 1/2/4/8-bit gray and
  palette with tRNS, sequential or Adam7), AND JPEG with
  :func:`decode_jpeg` (marker walk, canonical Huffman entropy decode,
  sequential and SOF2 progressive scans, restart intervals,
  dequantize, exact IDCT, JFIF color convert — grayscale, 4:4:4, AND
  chroma-subsampled 4:2:0/4:2:2/4:1:1 via the MCU-interleaved scan
  walk + replication upsampling — plus SOF3 lossless with exact
  samples); :func:`resize_nearest` is a real resize kernel, and
  :func:`image_meta` chains decode → resize → channel sums with
  analytic oracles (``multimodal_image``, ``multimodal_png``,
  ``multimodal_png_palette``, ``multimodal_png_adam7``,
  ``multimodal_png16``, ``multimodal_jpeg``, ``multimodal_jpeg_prog``,
  ``multimodal_jpeg_420``); ``multimodal_jpeg_lossless`` checks the
  lossless samples;
- video: :func:`decode_avi` parses MJPEG-in-AVI RIFF containers and
  JPEG-decodes sampled frames (``multimodal_video``);
- GIF: :func:`decode_gif` decodes GIF87a/89a — real LZW entropy
  decode, global/local color tables, 4-pass interlace, transparency
  and disposal composition across animation frames — and
  :func:`gif_features` emits per-frame channel sums
  (``multimodal_gif``).

Non-MJPEG video codecs and the exotic JPEG modes (hierarchical,
arithmetic-coded, non-integer sampling ratios) need a production codec
(PIL/cv2): those raise ``NotImplementedError`` while their Spark-side
plumbing (schema, batching, UDF signature, partitioning) is exercised
by :func:`media_meta`'s deterministic fake featurizer.

The ``synth_*`` encoders write the fixtures the tests and registry rows
decode; the JPEG ones share one byte writer (:class:`_JpegWriter`) and
the PNG ones one chunk writer (:func:`_png_encode`).
"""

from __future__ import annotations

import functools
import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = (
    "doc_id long, n_bytes long, digest string, f1 double, f2 double, f3 double, f4 double"
)


def map_blobs(
    df: DataFrame,
    id_col: str,
    blob_col: str,
    schema: str,
    fn: Callable[[bytes | None], list[tuple]],
) -> DataFrame:
    """The one Arrow-batched per-blob loop every media operator runs
    (the reference's per-clip decode → feature loop,
    reference/datasets/videoset.py:66-139): ``(id_col, blob_col)``
    cross the JVM↔Python boundary once per Arrow batch through
    ``mapInPandas``, and ``fn(blob)`` — ``blob`` is ``bytes`` or
    ``None`` — returns that blob's output rows as tuples of the columns
    of ``schema`` after the first. ``schema`` is a flat DDL string whose
    first column receives the blob's id.

    P9 frame-validity rule: when ``fn`` raises, the blob yields exactly
    ONE row, its id with nulls in every other column, and none of the
    rows ``fn`` built before failing, so no consumer sees a document
    as both decoded and undecodable. Operators that give ``None`` a
    meaning of their own (:func:`media_meta`, :func:`frame_sample`)
    handle it inside ``fn``; decoders let it raise."""
    names = [c.split()[0] for c in schema.split(",")]
    nulls = [(None,) * (len(names) - 1)]

    def _per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for i, b in zip(pdf[id_col], pdf[blob_col]):
                try:
                    rows = list(fn(None if b is None else bytes(b)))
                except Exception:
                    rows = nulls
                out.extend((i, *r) for r in rows)
            yield pd.DataFrame(out, columns=names)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(
        _per_batch, schema=schema
    )


def _rgb_sums(pixels) -> tuple[int, int, int]:
    """Exact integer R, G, B sums of an HxWxC uint8 array (alpha
    ignored)."""
    import numpy as np

    s = pixels[:, :, :3].astype(np.int64).sum(axis=(0, 1))
    return int(s[0]), int(s[1]), int(s[2])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 pass geometry: (x_origin, y_origin, x_step, y_step). Each pass
# is an independent sub-image with its own scanline stream (filter byte
# + packed samples at the PASS width; `prior` resets per pass).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, offset: int, height: int, stride: int, fbpp: int):
    """Reconstruct ``height`` filtered scanlines of ``stride`` bytes
    starting at ``offset`` in the inflated IDAT stream; returns
    ``(rows uint8 (height, stride), next_offset)``. Filter math per the
    PNG spec: None/Sub/Up vectorized (Sub is a per-lane cumulative sum
    mod 256 over the filter's byte stride), Average/Paeth carry an
    in-row data dependency and reconstruct per-byte."""
    import numpy as np

    if offset + height * (stride + 1) > len(raw):
        raise ValueError("PNG scanline payload truncated")
    out = np.zeros((height, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int32)
    pos = offset
    for r in range(height):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos).astype(
            np.int32
        )
        pos += stride
        if ft == 0:
            recon = line
        elif ft == 1:  # Sub: per-byte-lane prefix sum mod 256
            recon = line.reshape(-1, fbpp).cumsum(axis=0).reshape(stride) & 255
        elif ft == 2:  # Up
            recon = (line + prior) & 255
        elif ft == 3:  # Average
            # in-row dependency -> sequential; plain-int list ops beat
            # numpy scalar indexing ~4x here (profiled r7: the two
            # dependent filters were 58% of PNG decode CPU)
            rl, pl = line.tolist(), prior.tolist()
            for x in range(stride):
                left = rl[x - fbpp] if x >= fbpp else 0
                rl[x] = (rl[x] + ((left + pl[x]) >> 1)) & 255
            recon = np.asarray(rl, dtype=np.int32)
        elif ft == 4:  # Paeth
            rl, pl = line.tolist(), prior.tolist()
            for x in range(stride):
                a = rl[x - fbpp] if x >= fbpp else 0
                b = pl[x]
                c = pl[x - fbpp] if x >= fbpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rl[x] = (rl[x] + pred) & 255
            recon = np.asarray(rl, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = recon.astype(np.uint8)
        prior = recon.astype(np.int32)
    return out, pos


def _png_samples(rows, width: int, height: int, nch: int, bitdepth: int):
    """Reconstructed scanline bytes → sample grid at 8-bit precision:
    sub-byte depths unpack MSB-first, 16-bit channels keep the
    most-significant byte (the standard 16→8 reduction; big-endian per
    spec, so that's byte 0 of each sample pair). Returns (h, w, nch)
    for multi-channel, (h, w) for single-channel."""
    import numpy as np

    if bitdepth < 8:  # only legal for single-channel (gray/palette)
        bits = np.unpackbits(rows, axis=1)
        weights = 1 << np.arange(bitdepth - 1, -1, -1)
        samples = (bits.reshape(height, -1, bitdepth) * weights).sum(axis=2)
        return samples[:, :width]
    if bitdepth == 16:
        hi = rows[:, 0::2]  # big-endian high bytes
        return hi.reshape(height, width, nch) if nch > 1 else hi[:, :width]
    return rows.reshape(height, width, nch) if nch > 1 else rows[:, :width]


def decode_png(data: bytes):
    """REAL compressed-image decode for PNG via stdlib ``zlib`` +
    ``struct``: chunk walk (IHDR/PLTE/tRNS/IDAT/IEND), inflate of the
    concatenated IDAT stream, and full scanline filter reconstruction
    (types 0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth — the complete PNG
    filter set) → dict(width, height, bpp, pixels HxWxC uint8).
    Supports the color types web corpora carry: 8-bit truecolor
    (type 2, → RGB), truecolor+alpha (type 6, → RGBA), 8-bit grayscale
    (type 0, → replicated RGB like the grayscale JPEG path),
    grayscale+alpha (type 4, → RGBA), and palette (type 3) at bit
    depths 1/2/4/8 with MSB-first sample unpacking and optional tRNS
    alpha (→ RGB, or RGBA when tRNS is present). 16-bit channels
    (types 0/2/4/6) decode with the standard most-significant-byte
    reduction, and Adam7 interlacing (seven independently filtered
    sub-images scattered back on the pass grid, empty passes skipped)
    is handled for every supported color type. ``bpp`` reports the
    SOURCE bits per pixel (e.g. 4 for a 4-bit palette image, 48 for
    16-bit RGB), the pixel array is always expanded to 8-bit RGB(A).
    The reference decodes with cv2.imread-equivalent
    (reference/datasets/videoset.py:66-95); this is the same decode
    step with zero third-party dependencies.

    Filter math: None/Up/Sub reconstruct vectorized (Sub is a per-lane
    cumulative sum mod 256 over the filter's byte stride); Average/
    Paeth carry an in-row data dependency and reconstruct per-pixel —
    fine for fixture-scale images, and a production deployment swaps
    one function (decode_image) for a native codec without touching
    the Spark plumbing."""
    import numpy as np

    if len(data) < 8 or data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = bytearray()
    palette = trns = None
    height = bitdepth = colortype = interlace = None
    while pos + 8 <= len(data):
        ln, typ = struct.unpack_from(">I4s", data, pos)
        pos += 8
        chunk = data[pos : pos + ln]
        pos += ln + 4  # skip CRC (integrity is the transport's job here)
        if typ == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", chunk)
            )
        elif typ == b"PLTE":
            if len(chunk) % 3:
                raise ValueError("PLTE length not a multiple of 3")
            palette = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(chunk, dtype=np.uint8)
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    ok = (colortype in (2, 4, 6) and bitdepth in (8, 16)) or (
        colortype == 0 and bitdepth in (1, 2, 4, 8, 16)
    ) or (colortype == 3 and bitdepth in (1, 2, 4, 8))
    if not ok or interlace not in (0, 1):
        raise NotImplementedError(
            "stdlib PNG path supports gray/RGB/RGBA/gray+alpha at 8/16-bit, "
            "1/2/4/8-bit gray and palette, sequential or Adam7; anything "
            "else needs a production codec"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[colortype]
    # filter stride: bytes per reconstructed pixel group, min 1
    fbpp = max(1, (nch * bitdepth) // 8)
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        stride = (width * nch * bitdepth + 7) // 8
        if len(raw) != height * (stride + 1):
            raise ValueError("PNG scanline payload truncated")
        rows, _ = _png_unfilter(raw, 0, height, stride, fbpp)
        samples = _png_samples(rows, width, height, nch, bitdepth)
    else:  # Adam7: seven independently filtered sub-images, scattered
        shape = (height, width, nch) if nch > 1 else (height, width)
        samples = np.zeros(shape, dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # pass empty at this image size — no scanlines
            pstride = (pw * nch * bitdepth + 7) // 8
            rows, pos = _png_unfilter(raw, pos, ph, pstride, fbpp)
            samples[y0::dy, x0::dx] = _png_samples(rows, pw, ph, nch, bitdepth)
        if pos != len(raw):
            raise ValueError("PNG interlaced payload has trailing bytes")
    src_bpp = nch * bitdepth
    if colortype == 0:
        # 16-bit already reduced to its high byte in _png_samples
        maxv = (1 << min(bitdepth, 8)) - 1
        gray = (samples.astype(np.int64) * 255 // maxv).astype(np.uint8)
        px = np.repeat(gray[:, :, None], 3, axis=2)
    elif colortype == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        if int(samples.max()) >= len(palette):
            raise ValueError("palette index out of range")
        px = palette[samples]
        src_bpp = bitdepth
        if trns is not None:
            alpha = np.full(len(palette), 255, dtype=np.uint8)
            alpha[: len(trns)] = trns
            px = np.concatenate([px, alpha[samples][:, :, None]], axis=2)
    elif colortype == 4:
        gray, alpha = samples[:, :, 0], samples[:, :, 1]
        px = np.concatenate(
            [np.repeat(gray[:, :, None], 3, axis=2), alpha[:, :, None]], axis=2
        )
    else:
        px = samples
    return {"width": width, "height": height, "bpp": src_bpp, "pixels": px}


def _png_filter_rows(out: bytearray, rows, fbpp: int, filter_cycle) -> None:
    """Apply per-row PNG filters from ``filter_cycle`` to a (n, stride)
    uint8 scanline matrix and append ``filter_byte + filtered`` lines
    to ``out``. Shared by the sequential and Adam7 emit paths (Adam7
    calls it once per pass — `prior` resets per pass, as the spec
    requires)."""
    import numpy as np

    n, stride = rows.shape
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(n):
        ft = filter_cycle[y % len(filter_cycle)]
        row = rows[y].astype(np.int32)
        left = np.zeros(stride, dtype=np.int32)
        left[fbpp:] = row[: stride - fbpp]
        upleft = np.zeros(stride, dtype=np.int32)
        upleft[fbpp:] = prior[: stride - fbpp]
        if ft == 0:
            filt = row
        elif ft == 1:
            filt = (row - left) & 255
        elif ft == 2:
            filt = (row - prior) & 255
        elif ft == 3:
            filt = (row - ((left + prior) >> 1)) & 255
        else:  # Paeth
            p = left + prior - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, upleft)
            )
            filt = (row - pred) & 255
        out += bytes([ft]) + filt.astype(np.uint8).tobytes()
        prior = row


def _png_expand16(px8):
    """8-bit (h, w, ch) pixels → big-endian 16-bit scanline bytes whose
    HIGH byte is the 8-bit value and whose low byte is deterministic
    junk derived from it — a decoder that misreads sample width or
    endianness sees the junk and breaks the fixture hash."""
    import numpy as np

    h = px8.shape[0]
    hi = px8.reshape(h, -1)
    lo = ((hi.astype(np.int32) * 167 + 89) % 256).astype(np.uint8)
    rows = np.empty((h, hi.shape[1] * 2), dtype=np.uint8)
    rows[:, 0::2] = hi
    rows[:, 1::2] = lo
    return rows


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)


def _png_encode(
    grid, to_rows, fbpp, filter_cycle, bitdepth, colortype, interlace, chunks=()
) -> bytes:
    """The PNG writer both encoders share: signature, IHDR, the extra
    ``(type, payload)`` ``chunks`` (PLTE/tRNS), one zlib IDAT and IEND,
    each chunk with its CRC. ``grid`` is the (h, w[, ch]) sample grid
    and ``to_rows`` turns it, or one Adam7 pass of it, into scanline
    bytes; ``interlace`` 0 filters the whole grid as one stream, any
    other value filters each non-empty Adam7 pass on its own."""
    height, width = grid.shape[:2]
    passes = [grid]
    if interlace != 0:
        passes = [grid[y0::dy, x0::dx] for x0, y0, dx, dy in _ADAM7]
        passes = [p for p in passes if p.shape[0] and p.shape[1]]
    lines = bytearray()
    for sub in passes:
        _png_filter_rows(lines, to_rows(sub), fbpp, filter_cycle)
    ihdr = struct.pack(
        ">IIBBBBB", width, height, bitdepth, colortype, 0, 0, interlace
    )
    return _PNG_SIG + b"".join(
        _png_chunk(typ, payload)
        for typ, payload in [
            (b"IHDR", ihdr),
            *chunks,
            (b"IDAT", zlib.compress(bytes(lines), 6)),
            (b"IEND", b""),
        ]
    )


def synth_png(
    width: int,
    height: int,
    pixel_fn,
    filter_cycle=(0, 1, 2, 3, 4),
    rgba=False,
    bitdepth: int = 8,
    interlace: int = 0,
) -> bytes:
    """Serialize ``pixel_fn(x, y) -> (r, g, b[, a])`` into a real PNG
    blob — proper chunk CRCs, zlib-compressed IDAT, and REAL per-row
    filters cycling through ``filter_cycle`` so every reconstruction
    branch of :func:`decode_png` is exercised by round-trip fixtures
    (the ``multimodal_png*`` registry rows and tests). ``bitdepth=16``
    widens every sample to big-endian 16-bit (high byte = the 8-bit
    value, low byte deterministic junk the decoder's MSB reduction must
    discard); ``interlace=1`` emits the seven Adam7 passes, each
    independently filtered at its own pass width."""
    import numpy as np

    if bitdepth not in (8, 16):
        raise ValueError("synth_png emits 8- or 16-bit channels")
    ch = 4 if rgba else 3
    px = np.zeros((height, width, ch), dtype=np.uint8)
    for y in range(height):
        for x in range(width):
            px[y, x] = pixel_fn(x, y)[:ch]

    def to_rows(g):
        if bitdepth == 16:
            return _png_expand16(g)
        return g.reshape(g.shape[0], g.shape[1] * ch)

    return _png_encode(
        px, to_rows, ch * (bitdepth // 8), filter_cycle, bitdepth,
        6 if rgba else 2, interlace,
    )


def synth_png_indexed(
    indices,
    palette,
    *,
    bitdepth: int = 8,
    gray: bool = False,
    trns=None,
    filter_cycle=(0, 2),
    interlace: int = 0,
) -> bytes:
    """Serialize a 2-D sample grid into a real palette (color type 3)
    or grayscale (type 0) PNG at bit depth 1/2/4/8: MSB-first sub-byte
    sample packing, PLTE/tRNS chunks, per-row filters cycling through
    ``filter_cycle`` over the packed bytes (stride 1 — exactly how
    type-3/0 filters operate), proper CRCs. The generator behind the
    ``multimodal_png_palette`` registry row and the indexed/gray
    round-trip tests."""
    import numpy as np

    grid = np.asarray(indices, dtype=np.int64)
    if bitdepth not in (1, 2, 4, 8):
        raise ValueError("bitdepth must be 1, 2, 4 or 8")
    if grid.min() < 0 or grid.max() >= (1 << bitdepth):
        raise ValueError("sample out of range for bit depth")

    def pack(g):
        h, w = g.shape
        s = (w * bitdepth + 7) // 8
        if bitdepth == 8:
            out = np.zeros((h, s), dtype=np.uint8)
            out[:, :w] = g.astype(np.uint8)
            return out
        weights = 1 << np.arange(bitdepth - 1, -1, -1)
        bits = ((g[:, :, None] & weights) > 0).astype(np.uint8)
        bits = bits.reshape(h, w * bitdepth)
        pad = s * 8 - w * bitdepth
        if pad:
            bits = np.concatenate([bits, np.zeros((h, pad), dtype=np.uint8)], axis=1)
        return np.packbits(bits, axis=1)

    chunks = []
    if not gray:
        chunks.append((b"PLTE", b"".join(bytes((r, g, b)) for r, g, b in palette)))
        if trns is not None:
            chunks.append((b"tRNS", bytes(trns)))
    return _png_encode(
        grid, pack, 1, filter_cycle, bitdepth, 0 if gray else 3, interlace, chunks
    )


# ------------------------------------------------------------- JPEG

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Huffman alphabets this engine's encoder emits (the decoder is spec-
# driven from the file's own DHT segments, so ANY valid tables decode):
# DC categories 0..11 as 4-bit canonical codes, and the full baseline
# AC symbol set (EOB, ZRL, run/size pairs) as 8-bit canonical codes —
# prefix-free by construction, all-ones code unused as T.81 requires.
_JPEG_AC_SYMBOLS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _jpeg_huff_spec(symbols: list[int], length: int) -> tuple[list[int], list[int]]:
    bits = [0] * 16
    bits[length - 1] = len(symbols)
    return bits, list(symbols)


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 canonical code generation."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


@functools.lru_cache(maxsize=16)
def _jpeg_encoder_tables(symbols: tuple, length: int):
    """(bits, vals, symbol->(code,len)) for one canonical encoder
    alphabet, memoized: the encoders rebuilt these per FRAME (250k
    rebuilds across the video row at sf1.0 — ~30% of synth CPU, r7).
    bits/vals returned as tuples so cached state stays immutable."""
    bits, vals = _jpeg_huff_spec(list(symbols), length)
    return tuple(bits), tuple(vals), _jpeg_huff_codes(bits, vals)


@functools.lru_cache(maxsize=256)
def _jpeg_decode_table(bits: bytes, vals: bytes) -> dict[tuple[int, int], int]:
    """(len, code) -> symbol decode table for one DHT definition,
    memoized on the raw table bytes: a corpus's images overwhelmingly
    share a handful of Huffman tables (every libjpeg-default encoder
    emits the same two), and profiling the video row showed the
    canonical-code rebuild at ~15% of decode CPU when rebuilt per
    image (r7). Pure function of its arguments; cache capped far above
    any real table diversity per task."""
    codes = _jpeg_huff_codes(list(bits), list(vals))
    return {(ln, code): sym for sym, (code, ln) in codes.items()}


@functools.lru_cache(maxsize=None)
def _idct_matrix():
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = np.cos((2 * x + 1) * u * np.pi / 16) / 2
    a[0, :] /= np.sqrt(2.0)
    a.setflags(write=False)  # cached: guard against aliasing mutation
    return a  # pixels = A.T @ coefs @ A


class _BitReader:
    """MSB-first reader over the entropy-coded segment (0xFF00 already
    unstuffed by the marker scan)."""

    def __init__(self, buf: bytes):
        self.buf, self.pos, self.bit = buf, 0, 0

    def read_bit(self) -> int:
        b = (self.buf[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _jpeg_extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_huff_decode(rd: _BitReader, table: dict) -> int:
    code = ln = 0
    while ln < 16:
        code = (code << 1) | rd.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _jpeg_collect_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded bytes after an SOS up to the next real marker,
    0xFF00 unstuffed, split into restart segments at RSTn markers."""
    segments: list[bytes] = []
    out = bytearray()
    while pos < len(data):
        b = data[pos]
        if b == 0xFF:
            if pos + 1 >= len(data):
                raise ValueError("truncated entropy stream: lone 0xFF at EOF")
            nxt = data[pos + 1]
            if nxt == 0x00:
                out.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn: restart-segment boundary
                segments.append(bytes(out))
                out = bytearray()
                pos += 2
                continue
            break
        out.append(b)
        pos += 1
    segments.append(bytes(out))
    return segments, pos


def _jpeg_geometry(comps: list[dict], width: int, height: int) -> dict:
    """Per-component block geometry for arbitrary sampling factors
    (T.81 A.1.1/A.2.4): MCU grid sized by hmax/vmax; each component
    allocates an MCU-padded block grid (``bw_alloc`` × ``bh_alloc``)
    but a non-interleaved scan walks only its OWN grid (``bw_own`` ×
    ``bh_own`` = ceil of the component's true sample dims / 8)."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    out = []
    for c in comps:
        cw = (width * c["h"] + hmax - 1) // hmax  # component sample dims
        ch = (height * c["v"] + vmax - 1) // vmax
        out.append(
            {
                "h": c["h"],
                "v": c["v"],
                "w": cw,
                "hh": ch,
                "bw_alloc": mcux * c["h"],
                "bh_alloc": mcuy * c["v"],
                "bw_own": (cw + 7) // 8,
                "bh_own": (ch + 7) // 8,
            }
        )
    return {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy, "comps": out}


def _scan_units(order: list, geom: dict):
    """Yield the restart-counted decode units of a scan as lists of
    (component_index, flat_block_index): an interleaved scan's unit is
    one MCU (h*v blocks per component, raster order within the MCU);
    a non-interleaved scan's unit is a single block of the component's
    own (non-MCU-padded) grid."""
    if len(order) > 1:
        mcux, mcuy = geom["mcux"], geom["mcuy"]
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            unit = []
            for ci, _, _ in order:
                g = geom["comps"][ci]
                for bv in range(g["v"]):
                    for bhx in range(g["h"]):
                        unit.append(
                            (ci, (my * g["v"] + bv) * g["bw_alloc"] + mx * g["h"] + bhx)
                        )
            yield unit
    else:
        ci = order[0][0]
        g = geom["comps"][ci]
        for r in range(g["bh_own"]):
            for c in range(g["bw_own"]):
                yield [(ci, r * g["bw_alloc"] + c)]


def _jpeg_seq_scan(scan: dict, coef, geom: dict) -> None:
    """Sequential (SOF0/SOF1) scan → zigzag-order int coefficient rows,
    one per 8x8 block, MCU-interleaved for any sampling factors
    (4:4:4 / 4:2:2 / 4:2:0 / grayscale), restart-aware (DRI counts
    MCUs in interleaved scans, data units otherwise)."""
    segments, ri = scan["segments"], scan["ri"]
    order = scan["order"]
    rd = _BitReader(segments[0])
    seg_i = 0
    pred = {ci: 0 for ci, _, _ in order}
    for u, unit in enumerate(_scan_units(order, geom)):
        if ri and u and u % ri == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("missing restart segment")
            rd = _BitReader(segments[seg_i])
            pred = {ci: 0 for ci, _, _ in order}
        for ci, n in unit:
            dctab, actab = scan["dc"][ci], scan["ac"][ci]
            t = _jpeg_huff_decode(rd, dctab)
            pred[ci] += _jpeg_extend(rd.receive(t), t)
            coef[ci][n, 0] = pred[ci]
            k = 1
            while k < 64:
                rs = _jpeg_huff_decode(rd, actab)
                r, s = rs >> 4, rs & 15
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += r
                if k > 63:
                    raise ValueError("AC run past end of block")
                coef[ci][n, k] = _jpeg_extend(rd.receive(s), s)
                k += 1


def _jpeg_prog_scan(scan: dict, coef, geom: dict) -> None:
    """One progressive (SOF2) scan applied to the coefficient buffers:
    DC first/refine (spectral band 0) or AC first/refine (band Ss..Se
    with EOB-run coding and successive-approximation correction bits),
    per T.81 G.1.2 / the libjpeg decode_mcu_* state machines. DC scans
    may be MCU-interleaved across subsampled components; AC scans are
    non-interleaved and walk the component's own block grid."""
    ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
    segments, ri = scan["segments"], scan["ri"]
    order = scan["order"]

    def segmented(reset_fn):
        """Yield (unit, reader); switch segment + reset state every
        `ri` units when a restart interval is declared."""
        rd = _BitReader(segments[0])
        seg_i = 0
        for u, unit in enumerate(_scan_units(order, geom)):
            if ri and u and u % ri == 0:
                seg_i += 1
                if seg_i >= len(segments):
                    raise ValueError("missing restart segment")
                rd = _BitReader(segments[seg_i])
                reset_fn()
            yield unit, rd

    if ss == 0:  # DC scan (interleaved allowed)
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ah == 0:
            pred = {ci: 0 for ci, _, _ in order}

            def _reset():
                for k in pred:
                    pred[k] = 0

            for unit, rd in segmented(_reset):
                for ci, n in unit:
                    t = _jpeg_huff_decode(rd, scan["dc"][ci])
                    pred[ci] += _jpeg_extend(rd.receive(t), t)
                    coef[ci][n, 0] = pred[ci] << al
        else:  # DC refinement: one raw bit per block per component
            for unit, rd in segmented(lambda: None):
                for ci, n in unit:
                    if rd.read_bit():
                        coef[ci][n, 0] |= 1 << al
        return

    # AC scan: T.81 requires non-interleaved (one component)
    if len(order) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    ci = order[0][0]
    actab = scan["ac"][ci]
    c = coef[ci]
    state = {"eobrun": 0}

    def _reset():
        state["eobrun"] = 0

    if ah == 0:  # AC first scan for this band
        for unit, rd in segmented(_reset):
            ((_, n),) = unit
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                continue
            k = ss
            while k <= se:
                rs = _jpeg_huff_decode(rd, actab)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:  # EOBn: run of (1<<r)+ext all-zero bands
                        state["eobrun"] = (1 << r) - 1
                        if r:
                            state["eobrun"] += rd.receive(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("AC run past end of band")
                c[n, k] = _jpeg_extend(rd.receive(s), s) << al
                k += 1
        return

    # AC refinement: append one correction bit per already-nonzero
    # coefficient, place newly-significant ±1<<Al coefficients
    p1, m1 = 1 << al, -(1 << al)
    for unit, rd in segmented(_reset):
        ((_, n),) = unit
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _jpeg_huff_decode(rd, actab)
                r, s = rs >> 4, rs & 15
                val = 0
                if s == 0:
                    if r != 15:
                        # EOBn — current block's tail handled below
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += rd.receive(r)
                        break
                    # r == 15: ZRL skips 16 zero-history coefficients
                else:
                    if s != 1:
                        raise ValueError("refinement size must be 1")
                    val = p1 if rd.read_bit() else m1
                while k <= se:
                    h = int(c[n, k])
                    if h != 0:
                        if rd.read_bit() and (h & p1) == 0:
                            c[n, k] = h + (p1 if h >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("refinement run past end of band")
                    c[n, k] = val
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                h = int(c[n, k])
                if h != 0:
                    if rd.read_bit() and (h & p1) == 0:
                        c[n, k] = h + (p1 if h >= 0 else m1)
                k += 1
            state["eobrun"] -= 1


def decode_jpeg(data: bytes):
    """REAL JPEG decode via stdlib ``struct`` + numpy: marker walk
    (DQT/SOF/DHT/DRI/SOS), canonical Huffman decode of the entropy
    stream, dezigzag, dequantize, exact separable float64 IDCT, level
    shift, and JFIF YCbCr→RGB with round-half-even — dict(width,
    height, bpp, pixels HxWx3 uint8). Supports baseline/extended
    sequential (SOF0/SOF1) AND progressive (SOF2: spectral selection +
    successive approximation, DC/AC first + refinement scans with
    EOB-run coding) in grayscale, 4:4:4 AND subsampled chroma with
    integer upsampling ratios (4:2:0, 4:2:2, 4:1:1 — MCU-interleaved
    scan walk per T.81 A.2.3, sample-replication chroma upsampling per
    JFIF 1.02), with restart intervals (DRI + RSTn) in all modes, and
    sequential scans either interleaved or one-per-component (the
    non-interleaved multi-scan layout; incomplete component coverage
    is refused), plus LOSSLESS (SOF3, T.81 process 14: predictors 1-7,
    2-16 bit precision, point transform — exact samples returned under
    a ``samples`` key). Hierarchical and arithmetic-coded modes still
    need a production codec and raise NotImplementedError. Reference decode analog:
    reference/datasets/videoset.py:66-95 (cv2 over compressed frames)
    — the same decode step, zero third-party deps."""
    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> {(len, code): sym}
    comps: list[dict] = []
    width = height = None
    progressive = False
    lossless = False
    prec = 8
    dri = 0
    scans: list[dict] = []
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad marker alignment")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        ln = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq not in (0, 1):
                    raise ValueError(f"bad DQT precision {pq}")
                tbl = np.zeros(64, dtype=np.int32)
                for z in range(64):
                    # pq=1: 16-bit big-endian entries (T.81 B.2.4.1)
                    tbl[_JPEG_ZIGZAG[z]] = (
                        struct.unpack_from(">H", seg, i + 2 * z)[0]
                        if pq
                        else seg[i + z]
                    )
                qt[tq] = tbl.reshape(8, 8)
                i += 128 if pq else 64
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            # SOF0/SOF1 sequential, SOF2 progressive, SOF3 lossless
            progressive = marker == 0xC2
            lossless = marker == 0xC3
            prec, height, width, nc = struct.unpack_from(">BHHB", seg, 0)
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                h, v = hv >> 4, hv & 15
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError(f"bad sampling factors {h}x{v}")
                comps.append({"id": cid, "tq": tq, "h": h, "v": v})
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical/arithmetic JPEG modes unsupported"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = seg[i + 17 : i + 17 + nv]
                huff[(tc, th)] = _jpeg_decode_table(bytes(seg[i + 1 : i + 17]), bytes(vals))
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            dri = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            order: list[tuple[int, int, int]] = []
            for c in range(ns):
                cid, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                ci = next(
                    (i for i, x in enumerate(comps) if x["id"] == cid), None
                )
                if ci is None:
                    raise ValueError(
                        f"SOS references component id {cid} absent from SOF"
                    )
                order.append((ci, tables >> 4, tables & 15))
            ss, se, ahl = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            scan = {
                "order": order,
                "ss": ss,
                "se": se,
                "ah": ahl >> 4,
                "al": ahl & 15,
                "ri": dri,
                # snapshot table refs NOW — later DHTs may redefine ids
                "dc": {ci: huff.get((0, td)) for ci, td, _ in order},
                "ac": {ci: huff.get((1, ta)) for ci, _, ta in order},
            }
            scan["segments"], pos = _jpeg_collect_entropy(data, pos)
            scans.append(scan)
    if width is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    if lossless:
        # T.81 process 14: predictive, no DCT/quant — exact samples out
        if any(c["h"] != 1 or c["v"] != 1 for c in comps):
            raise NotImplementedError(
                "lossless JPEG with sampling factors unsupported"
            )
        if len(scans) != 1 or len(scans[0]["order"]) != len(comps):
            raise NotImplementedError(
                "lossless JPEG needs one interleaved scan over all components"
            )
        scan = scans[0]
        if len(scan["segments"]) != 1:
            raise NotImplementedError(
                "restart intervals unsupported in lossless mode"
            )
        planes0 = [[[0] * width for _ in range(height)] for _ in comps]
        _jpeg_lossless_scan(scan, planes0, width, height, prec)
        samples = [
            np.asarray(p, dtype=np.int64) << scan["al"] for p in planes0
        ]
        shift = prec - 8

        def _to8(s):
            if shift > 0:
                return np.clip(s >> shift, 0, 255).astype(np.uint8)
            if shift < 0:
                return np.clip(s << (-shift), 0, 255).astype(np.uint8)
            return np.clip(s, 0, 255).astype(np.uint8)

        if len(samples) == 1:
            px3 = np.repeat(_to8(samples[0])[:, :, None], 3, axis=2)
        elif len(samples) == 3:
            # lossless JPEG carries no YCbCr mandate: components are raw
            px3 = np.stack([_to8(s) for s in samples], axis=2)
        else:
            raise NotImplementedError("1- or 3-component images only")
        return {
            "width": width,
            "height": height,
            "bpp": 8 if len(samples) == 1 else 24,
            "pixels": px3,
            "precision": prec,
            "samples": samples,
        }
    if not progressive:
        # a sequential image is one interleaved scan OR one
        # non-interleaved scan per component (T.81 allows any grouping;
        # decoding a color image's first scan alone would silently
        # return grayscale — refuse incomplete coverage, ADVICE r4)
        seen: list[int] = []
        for scan in scans:
            seen.extend(ci for ci, _, _ in scan["order"])
        if sorted(seen) != list(range(len(comps))):
            raise ValueError(
                "sequential scans must cover every SOF component exactly once"
            )

    geom = _jpeg_geometry(comps, width, height)
    coef = [
        np.zeros((g["bh_alloc"] * g["bw_alloc"], 64), dtype=np.int32)
        for g in geom["comps"]
    ]
    for scan in scans:
        if progressive:
            _jpeg_prog_scan(scan, coef, geom)
        else:
            _jpeg_seq_scan(scan, coef, geom)

    # dequantize (zigzag → natural order) + vectorized IDCT per plane,
    # crop to the component's true sample dims, then replicate-upsample
    # subsampled planes to full resolution (integer ratios only)
    a = _idct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)
    planes = []
    for ci, comp in enumerate(comps):
        g = geom["comps"][ci]
        bw_a, bh_a = g["bw_alloc"], g["bh_alloc"]
        nat = np.zeros((bh_a * bw_a, 64), dtype=np.float64)
        nat[:, zz] = coef[ci]
        blocks = nat.reshape(-1, 8, 8) * qt[comp["tq"]]
        px = np.einsum("ux,nuv,vy->nxy", a, blocks, a) + 128.0
        plane = (
            px.reshape(bh_a, bw_a, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_a * 8, bw_a * 8)[: g["hh"], : g["w"]]
        )
        fx, fy = geom["hmax"] // g["h"], geom["vmax"] // g["v"]
        if geom["hmax"] % g["h"] or geom["vmax"] % g["v"]:
            raise NotImplementedError(
                "non-integer chroma upsampling ratios unsupported"
            )
        if fx > 1 or fy > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:height, :width])
    if len(planes) == 1:
        y = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        px3 = np.repeat(y[:, :, None], 3, axis=2)
        return {"width": width, "height": height, "bpp": 8, "pixels": px3}
    if len(planes) != 3:
        raise NotImplementedError("1- or 3-component images only")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    px3 = np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)
    return {"width": width, "height": height, "bpp": 24, "pixels": px3}


class _JpegWriter:
    """The byte layer the four JPEG encoders share: SOI on creation,
    marker segments, MSB-first entropy bits with 0xFF00 stuffing, 1-bit
    padding to a byte boundary, RSTn markers numbered from 0 in each
    scan, and EOI."""

    def __init__(self) -> None:
        self.out = bytearray(b"\xff\xd8")
        self.acc = self.nbits = self.rst = 0

    def seg(self, marker: int, payload: bytes) -> None:
        self.out += struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def sof(
        self, marker: int, precision: int, width: int, height: int, sampling
    ) -> None:
        """Frame header: components 1..n with the (h << 4) | v bytes in
        ``sampling``, all on quant table 0."""
        payload = struct.pack(">BHHB", precision, height, width, len(sampling))
        for cid, hv in enumerate(sampling, 1):
            payload += bytes([cid, hv, 0])
        self.seg(marker, payload)

    def dht(self, tc_th: int, bits, vals) -> None:
        self.seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))

    def sos(self, comp_ids: list[int], ss: int, se: int, ah_al: int) -> None:
        """Scan header, every component on Huffman tables 0."""
        payload = bytes([len(comp_ids)])
        for cid in comp_ids:
            payload += bytes([cid, 0x00])
        self.seg(0xDA, payload + bytes([ss, se, ah_al]))
        self.rst = 0

    def put(self, code: int, n: int) -> None:
        acc = (self.acc << n) | code
        nb = self.nbits + n
        while nb >= 8:
            byte = (acc >> (nb - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            nb -= 8
            acc &= (1 << nb) - 1
        self.acc, self.nbits = acc, nb

    def put_mag(self, v: int, t: int) -> None:
        """The ``t`` magnitude bits of ``v`` (negatives as v + 2^t - 1,
        T.81 F.1.2.1)."""
        if t:
            self.put(v if v >= 0 else v + (1 << t) - 1, t)

    def put_dc(self, codes: dict, diff: int) -> None:
        """A difference coded as its size category, then its magnitude."""
        t = int(diff).bit_length()
        self.put(*codes[t])
        self.put_mag(diff, t)

    def pad(self) -> None:
        if self.nbits:
            p = 8 - self.nbits
            self.put((1 << p) - 1, p)

    def restart(self) -> None:
        self.pad()
        self.out += bytes([0xFF, 0xD0 | (self.rst % 8)])
        self.rst += 1

    def finish(self) -> bytes:
        self.pad()
        return bytes(self.out + b"\xff\xd9")


def _jpeg_dct_writer(
    sof: int, width: int, height: int, sampling, ac_symbols, restart_interval: int
):
    """A writer primed with the header the three DCT encoders share:
    flat-8 DQT (q00=8 makes flat blocks decode bit-exactly), SOF, the
    DC (categories 0..11, 4-bit codes) and AC (8-bit codes) DHTs, and
    DRI when ``restart_interval`` > 0. Returns (writer, dc_codes,
    ac_codes)."""
    dc_bits, dc_vals, dc_codes = _jpeg_encoder_tables(tuple(range(12)), 4)
    ac_bits, ac_vals, ac_codes = _jpeg_encoder_tables(tuple(ac_symbols), 8)
    w = _JpegWriter()
    w.seg(0xDB, bytes([0x00]) + bytes([8] * 64))  # quant table 0, flat 8
    w.sof(sof, 8, width, height, sampling)
    w.dht(0x00, dc_bits, dc_vals)
    w.dht(0x10, ac_bits, ac_vals)
    if restart_interval:
        w.seg(0xDD, struct.pack(">H", restart_interval))
    return w, dc_codes, ac_codes


def _jpeg_put_block(
    w: _JpegWriter, dc_codes, ac_codes, pred: list, ci: int, dc: int, acs=()
) -> None:
    """One sequential-mode block: the DC difference from component
    ``ci``'s predictor, the ``(zigzag_k, value)`` ACs as run/size
    symbols (ZRL for runs over 15), and EOB unless k=63 was coded."""
    w.put_dc(dc_codes, dc - pred[ci])
    pred[ci] = dc
    last = 0
    for k, av in acs:
        run = k - last - 1
        while run > 15:
            w.put(*ac_codes[0xF0])  # ZRL: 16 zeros
            run -= 16
        s = int(av if av >= 0 else -av).bit_length()
        w.put(*ac_codes[(run << 4) | s])
        w.put_mag(av, s)
        last = k
    if last < 63:
        w.put(*ac_codes[0x00])  # EOB


def synth_jpeg(
    width: int,
    height: int,
    block_fn,
    gray: bool = False,
    ac_fn=None,
    restart_interval: int = 0,
    interleaved: bool = True,
) -> bytes:
    """Serialize ``block_fn(bx, by) -> (y, cb, cr)`` (flat 8x8 blocks,
    components in 0..255) into a REAL baseline JPEG: canonical Huffman
    DC/AC tables, flat-8 quant tables, interleaved 4:4:4 (or single-
    component when ``gray``) entropy stream with byte stuffing. With
    q[0,0]=8 the DC-only blocks decode bit-exactly (quantized DC =
    y-128, IDCT of a DC-only block = DC*q/8), which is what makes the
    ``multimodal_jpeg`` oracle analytic. Width/height must be multiples
    of 8. ``ac_fn(bx, by, ci) -> [(zigzag_k, quantized_val), ...]``
    (sorted, k in 1..63, val != 0) optionally writes AC coefficients —
    used by the round-trip tests to exercise run/size + ZRL decode.
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (byte-aligned pad, predictor reset).
    ``interleaved=False`` emits one full-band SOS PER COMPONENT
    (T.81-legal non-interleaved sequential — each scan walks its
    component's own block grid, restarts count blocks), the encoding
    some real encoders emit for grayscale-heavy or legacy images."""
    if width % 8 or height % 8:
        raise ValueError("synth_jpeg needs multiple-of-8 dimensions")
    ncomp = 1 if gray else 3
    w, dc_codes, ac_codes = _jpeg_dct_writer(
        0xC0, width, height, [0x11] * ncomp, _JPEG_AC_SYMBOLS, restart_interval
    )
    bw = width // 8
    scans = [list(range(ncomp))] if interleaved else [[ci] for ci in range(ncomp)]
    for comps in scans:
        w.sos([ci + 1 for ci in comps], 0, 63, 0)
        pred = [0] * ncomp
        for n in range(bw * (height // 8)):
            if restart_interval and n and n % restart_interval == 0:
                w.restart()
                pred = [0] * ncomp
            by, bx = divmod(n, bw)
            for ci in comps:
                vals = block_fn(bx, by)
                v = vals[0] if (gray or ci == 0) else vals[ci]
                acs = ac_fn(bx, by, ci) if ac_fn is not None else ()
                _jpeg_put_block(w, dc_codes, ac_codes, pred, ci, int(v) - 128, acs)
        w.pad()
    return w.finish()


_JPEG_SAMPLINGS = {"420": (2, 2), "422": (2, 1), "411": (4, 1)}


def synth_jpeg_subsampled(
    width: int,
    height: int,
    y_block_fn,
    chroma_block_fn,
    sampling: str = "420",
    restart_interval: int = 0,
) -> bytes:
    """Serialize a chroma-subsampled baseline JPEG — the dominant
    encoding of real web images (most crawl JPEGs are 4:2:0), the
    fixture generator behind the ``multimodal_jpeg_420`` registry row.
    ``y_block_fn(bx, by) -> luma`` gives each flat 8x8 Y block (grid
    width/8 × height/8); ``chroma_block_fn(cx, cy) -> (cb, cr)`` gives
    each flat chroma block of the SUBSAMPLED plane (grid width/(8·hY)
    × height/(8·vY)). Entropy stream is MCU-interleaved per T.81
    A.2.3: hY·vY Y blocks in raster order then one Cb and one Cr block
    per MCU, with optional DRI restart intervals counted in MCUs.
    Flat-8 quant (q00=8) keeps flat blocks bit-exact through
    dequant+IDCT, so replication upsampling of tile-constant chroma is
    lossless — what makes the analytic oracle possible. Dimensions
    must be multiples of the MCU size (16x16 for 4:2:0, 16x8 for
    4:2:2, 32x8 for 4:1:1)."""
    if sampling not in _JPEG_SAMPLINGS:
        raise ValueError(f"sampling must be one of {sorted(_JPEG_SAMPLINGS)}")
    hy, vy = _JPEG_SAMPLINGS[sampling]
    if width % (8 * hy) or height % (8 * vy):
        raise ValueError(
            f"synth_jpeg_subsampled({sampling}) needs {8*hy}x{8*vy}-multiple dims"
        )
    # Y's sampling factors are the maxima, so Cb/Cr ride at 1x1
    w, dc_codes, ac_codes = _jpeg_dct_writer(
        0xC0, width, height, [(hy << 4) | vy, 0x11, 0x11], _JPEG_AC_SYMBOLS,
        restart_interval,
    )
    w.sos([1, 2, 3], 0, 63, 0)
    pred = [0, 0, 0]
    mcux, mcuy = width // (8 * hy), height // (8 * vy)
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        if restart_interval and m and m % restart_interval == 0:
            w.restart()
            pred = [0, 0, 0]
        for bv in range(vy):
            for bh in range(hy):
                luma = y_block_fn(mx * hy + bh, my * vy + bv)
                _jpeg_put_block(w, dc_codes, ac_codes, pred, 0, int(luma) - 128)
        for ci, v in enumerate(chroma_block_fn(mx, my), 1):
            _jpeg_put_block(w, dc_codes, ac_codes, pred, ci, int(v) - 128)
    return w.finish()


def synth_jpeg_progressive(
    width: int,
    height: int,
    block_fn,
    gray: bool = False,
    ac_fn=None,
    restart_interval: int = 0,
) -> bytes:
    """Serialize the same ``block_fn``/``ac_fn`` coefficient source as
    :func:`synth_jpeg` into a REAL progressive (SOF2) JPEG with a
    four-phase scan script: interleaved DC first scan (Al=1), DC
    refinement (raw bits, Al=0), then per-component non-interleaved AC
    first scans (Ss=1..63, Al=1, EOB-run coding) and AC refinement
    scans (Ah=1, Al=0: newly-significant ±1 placement + correction
    bits, mirroring T.81 G.1.2). Only the byte layer (segments, bit
    stuffing, padding, RSTn) is shared with the baseline writer; the
    scan script and its entropy coding are separate, so
    baseline-vs-progressive pixel parity on the same coefficients is a
    meaningful cross-check of the progressive decode path. With q00=8
    flat DC-only blocks decode bit-exactly (the same analytic-oracle
    property as synth_jpeg; the Al=1 DC split is lossless:
    (dc>>1)<<1 | (dc&1) == dc). ``restart_interval`` emits DRI +
    per-scan RSTn markers with predictor/EOB-run reset."""
    if width % 8 or height % 8:
        raise ValueError("synth_jpeg_progressive needs multiple-of-8 dimensions")
    ncomp = 1 if gray else 3
    # progressive AC alphabet adds EOBn (r<<4, r<15) to run/size + ZRL
    ac_syms = [(r << 4) | s for r in range(16) for s in range(0, 11)]
    w, dc_codes, ac_codes = _jpeg_dct_writer(
        0xC2, width, height, [0x11] * ncomp, ac_syms, restart_interval
    )

    bw, bh = width // 8, height // 8
    # quantized coefficients per component per block (zigzag index)
    dc = [[0] * (bh * bw) for _ in range(ncomp)]
    ac: list[list[dict]] = [[{} for _ in range(bh * bw)] for _ in range(ncomp)]
    for by in range(bh):
        for bx in range(bw):
            n = by * bw + bx
            vals = block_fn(bx, by)
            comps = [vals[0]] if gray else list(vals[:3])
            for ci, v in enumerate(comps):
                dc[ci][n] = int(v) - 128
                if ac_fn is not None:
                    ac[ci][n] = {k: av for k, av in ac_fn(bx, by, ci) if av}

    def put_huff(sym: int) -> None:
        w.put(*ac_codes[sym])

    def flush_eob(run: list, pending: list) -> None:
        """Emit the open EOB run as one EOBn symbol + its extra bits,
        then the correction bits its blocks owe (refinement only)."""
        if not run[0]:
            return
        if run[0] > 32767:
            raise ValueError("EOB run exceeds a single EOBn symbol")
        cat = run[0].bit_length() - 1
        put_huff(cat << 4)
        if cat:
            w.put(run[0] - (1 << cat), cat)
        for b in pending:
            w.put(b, 1)
        pending.clear()
        run[0] = 0

    all_ids = list(range(1, ncomp + 1))
    # --- scan 1: DC first, interleaved, Al=1 (arithmetic-shift PT) ---
    w.sos(all_ids, 0, 0, 0x01)
    pred = [0] * ncomp
    for n in range(bh * bw):
        if restart_interval and n and n % restart_interval == 0:
            w.restart()
            pred = [0] * ncomp
        for ci in range(ncomp):
            v = dc[ci][n] >> 1
            w.put_dc(dc_codes, v - pred[ci])
            pred[ci] = v
    w.pad()

    # --- scan 2: DC refinement, Al=0 — one raw bit per block/comp ---
    w.sos(all_ids, 0, 0, 0x10)
    for n in range(bh * bw):
        if restart_interval and n and n % restart_interval == 0:
            w.restart()
        for ci in range(ncomp):
            w.put(dc[ci][n] & 1, 1)
    w.pad()

    def pt(v: int, al: int) -> int:  # AC point transform: sign-magnitude
        return -((-v) >> al) if v < 0 else v >> al

    # --- scans 3..: per-component AC first (Ss=1, Se=63, Al=1) ---
    for ci in range(ncomp):
        w.sos([ci + 1], 1, 63, 0x01)
        run, pending = [0], []
        for n in range(bh * bw):
            if restart_interval and n and n % restart_interval == 0:
                flush_eob(run, pending)
                w.restart()
            vals = sorted(
                (k, pt(v, 1)) for k, v in ac[ci][n].items() if pt(v, 1) != 0
            )
            if not vals:
                run[0] += 1
                continue
            flush_eob(run, pending)
            last = 0
            for k, av in vals:
                zeros = k - last - 1
                while zeros > 15:
                    put_huff(0xF0)  # ZRL
                    zeros -= 16
                s = (av if av >= 0 else -av).bit_length()
                put_huff((zeros << 4) | s)
                w.put_mag(av, s)
                last = k
            if last < 63:
                run[0] += 1
        flush_eob(run, pending)
        w.pad()

    # --- final scans: per-component AC refinement (Ah=1, Al=0) ---
    for ci in range(ncomp):
        w.sos([ci + 1], 1, 63, 0x10)
        run, pending = [0], []
        for n in range(bh * bw):
            if restart_interval and n and n % restart_interval == 0:
                flush_eob(run, pending)
                w.restart()
            t = ac[ci][n]
            hist = {k for k, v in t.items() if pt(v, 1)}
            newly = {k for k, v in t.items() if k not in hist and abs(v) == 1}
            if not newly:
                # block joins the EOB run; decoder still reads one
                # correction bit per already-nonzero coefficient
                run[0] += 1
                pending.extend(abs(t[k]) & 1 for k in sorted(hist))
                continue
            flush_eob(run, pending)
            last_new = max(newly)
            k, zeros, bits = 1, 0, []
            while k <= last_new:
                if k in newly:
                    # symbol, then sign bit, then the correction bits
                    # the decoder reads while advancing (T.81 order)
                    put_huff((zeros << 4) | 1)
                    w.put(1 if t[k] > 0 else 0, 1)
                    for b in bits:
                        w.put(b, 1)
                    zeros, bits = 0, []
                elif k in hist:
                    bits.append(abs(t[k]) & 1)
                elif zeros == 15:
                    put_huff(0xF0)  # ZRL consumes this 16th zero-history
                    for b in bits:
                        w.put(b, 1)
                    zeros, bits = 0, []
                else:
                    zeros += 1
                k += 1
            if last_new < 63:
                # tail of this block opens an EOB run
                run[0] += 1
                pending.extend(abs(t[k]) & 1 for k in sorted(hist) if k > last_new)
        flush_eob(run, pending)
        w.pad()

    return w.finish()


def decode_image(data: bytes):
    """REAL image decode, routed by container signature: uncompressed
    24-bit BMP via stdlib ``struct`` (BITMAPFILEHEADER + BITMAPINFOHEADER
    + bottom-up padded BGR rows) and compressed PNG via
    :func:`decode_png` (stdlib zlib + full filter reconstruction) →
    dict(width, height, bpp, pixels HxWxC uint8, RGB/RGBA), plus JPEG
    via :func:`decode_jpeg` (sequential, progressive and lossless;
    grayscale, 4:4:4 and 4:2:0/4:2:2/4:1:1 chroma) and GIF via
    :func:`decode_gif` (first composited frame). The reference decodes
    frames with cv2 (reference/datasets/videoset.py:66-95); all paths
    here are stdlib-only, real, and oracle-checked
    (``multimodal_image``, ``multimodal_png*``, ``multimodal_jpeg*``).
    Other containers and the hierarchical/arithmetic JPEG modes raise
    NotImplementedError."""
    import numpy as np

    if len(data) >= 8 and data[:8] == _PNG_SIG:
        return decode_png(data)
    if len(data) >= 2 and data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    if len(data) >= 6 and data[:6] in (b"GIF87a", b"GIF89a"):
        g = decode_gif(data)
        # still-image contract: first composited frame
        return {
            "width": g["width"],
            "height": g["height"],
            "bpp": 24,
            "pixels": g["frames"][0],
        }
    if len(data) < 54 or data[:2] != b"BM":
        raise NotImplementedError(
            "stdlib-decodable containers are 24-bit BMP, 8-bit RGB/RGBA PNG, "
            "GIF87a/89a, and sequential/progressive JPEG (grayscale, 4:4:4, "
            "and integer-ratio subsampled chroma: 4:2:0/4:2:2/4:1:1); plug a "
            "codec (PIL/cv2) in for other formats"
        )
    offset = struct.unpack_from("<I", data, 10)[0]
    width, height = struct.unpack_from("<ii", data, 18)
    _planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    row_stride = (width * 3 + 3) & ~3
    bottom_up = height > 0
    h = abs(height)
    px = np.zeros((h, width, 3), dtype=np.uint8)
    for r in range(h):
        src_row = (h - 1 - r) if bottom_up else r
        start = offset + src_row * row_stride
        row = np.frombuffer(data, dtype=np.uint8, count=width * 3, offset=start)
        px[r] = row.reshape(width, 3)[:, ::-1]  # BGR -> RGB
    return {"width": width, "height": h, "bpp": bpp, "pixels": px}


def synth_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Serialize ``pixel_fn(x, y) -> (r, g, b)`` into a real bottom-up
    24-bit BMP blob (struct-packed headers, 4-byte-padded BGR rows) —
    the deterministic generator behind the image fixtures and the
    ``multimodal_image`` registry row."""
    row_stride = (width * 3 + 3) & ~3
    img_size = row_stride * height
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    for y in reversed(range(height)):  # bottom-up
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (row_stride - len(row))
        out += row
    return bytes(out)


def resize_nearest(pixels, out_w: int, out_h: int):
    """REAL nearest-neighbor resize over a decoded HxWx3 array (pure
    numpy index math — the reference's cv2.resize analog,
    reference/datasets/videoset.py:91-95, with the deterministic
    floor-index kernel so SQL oracles can reproduce it exactly):
    out[i, j] = src[floor(i*h/out_h), floor(j*w/out_w)]."""
    import numpy as np

    h, w = pixels.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return pixels[rows[:, None], cols[None, :]]


def image_meta(
    df: DataFrame,
    media_col: str = "image",
    id_col: str = "doc_id",
    resize_to: tuple[int, int] | None = None,
) -> DataFrame:
    """Arrow-batched REAL decode of an image binary column (any
    container :func:`decode_image` reads) →
    (doc_id, width, height, bpp, sum_r, sum_g, sum_b[, rs_sum_r,
    rs_sum_g, rs_sum_b]): header metadata plus integer channel sums
    (exact cross-engine hashes), optionally after a real
    nearest-neighbor resize. Undecodable blobs yield null rows (P9,
    :func:`map_blobs`)."""
    cols = ["sum_r", "sum_g", "sum_b"]
    if resize_to is not None:
        cols += ["rs_sum_r", "rs_sum_g", "rs_sum_b"]

    def fn(b):
        d = decode_image(b)
        row = (d["width"], d["height"], d["bpp"], *_rgb_sums(d["pixels"]))
        if resize_to is not None:
            row += _rgb_sums(resize_nearest(d["pixels"], *resize_to))
        return [row]

    schema = "doc_id long, width int, height int, bpp int, " + ", ".join(
        f"{c} long" for c in cols
    )
    return map_blobs(df, id_col, media_col, schema, fn)


def decode_audio(data: bytes) -> dict:
    """REAL audio decode for WAV containers via the stdlib ``wave``
    module (no third-party codec needed): parses the RIFF header and
    returns the PCM frames plus format metadata. This is the analog of
    the reference's decode step (reference/datasets/videoset.py:66-139)
    for the one media format the standard library can parse end-to-end;
    other containers still need a production codec (see
    :func:`decode_image`)."""
    import io
    import wave as wavelib

    with wavelib.open(io.BytesIO(data), "rb") as w:
        nf = w.getnframes()
        return {
            "sample_rate": w.getframerate(),
            "channels": w.getnchannels(),
            "sample_width": w.getsampwidth(),
            "n_frames": nf,
            "pcm": w.readframes(nf),
        }


def synth_wav(sample_rate: int, channels: int, frames) -> bytes:
    """Serialize int16 PCM frames (iterable of per-channel tuples or a
    flat interleaved iterable) into a real WAV blob via stdlib ``wave``
    — the deterministic generator behind the audio test fixtures and
    the ``multimodal_audio`` registry row."""
    import io
    import wave as wavelib

    flat = []
    for fr in frames:
        if isinstance(fr, (tuple, list)):
            flat.extend(fr)
        else:
            flat.append(fr)
    buf = io.BytesIO()
    with wavelib.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(flat)}h", *flat))
    return buf.getvalue()


def audio_meta(
    df: DataFrame, media_col: str = "audio", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched REAL decode of a WAV binary column →
    (doc_id, sample_rate, channels, sample_width, n_frames, duration_ms,
    sum_abs, peak): header metadata plus integer amplitude aggregates
    over the decoded PCM (integers so cross-engine hashes are exact).
    Null/empty blobs yield a null-metadata row rather than failing the
    batch (the engine's P9 frame-validity policy, :func:`map_blobs`)."""
    import numpy as np

    def fn(b):
        d = decode_audio(b)
        pcm = np.abs(np.frombuffer(d["pcm"], dtype="<i2").astype("int64"))
        return [(
            d["sample_rate"], d["channels"], d["sample_width"], d["n_frames"],
            d["n_frames"] * 1000 // d["sample_rate"],
            int(pcm.sum()), int(pcm.max()) if len(pcm) else 0,
        )]

    schema = (
        "doc_id long, sample_rate int, channels int, sample_width int, "
        "n_frames long, duration_ms long, sum_abs long, peak int"
    )
    return map_blobs(df, id_col, media_col, schema, fn)


def fake_feature(n_bytes: int, k: int = 4) -> list[float]:
    """Deterministic stand-in for the decode→pool feature (documented
    fake): f_i = (n_bytes * i) mod 97."""
    return [float((n_bytes * i) % 97) for i in range(1, k + 1)]


def frame_sample(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    frame_bytes: int = 64,
    num_frames: int = 8,
    alpha: int = 4,
) -> DataFrame:
    """Dual-rate frame sampling over opaque media bytes — the Spark-side
    plumbing of the reference's stride sampling (reference/test_net.py:
    62-74) with the codec stubbed: each ``frame_bytes`` slice of the blob
    stands in for a decoded frame; fast = ``num_frames`` evenly-strided
    frames, slow = ``num_frames/alpha`` (pad-repeat-last when short).
    Output one row per (id, pathway, frame_idx) with the frame's md5 —
    exactly the explode shape a real decoder would feed downstream. A
    null blob samples as an empty one. Parameters are validated
    eagerly, as in :func:`video_features`."""
    _check_rates(num_frames, alpha)
    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")

    def fn(b):
        b = b or b""
        frames = [b[i:i + frame_bytes] for i in range(0, len(b), frame_bytes)] or [b""]
        # shared stride sampler (pad-repeat-last, test_net.py:126-136)
        # — identical source indices to video_features' real decode;
        # digest over the UPPERCASE HEX of the bytes, so SQL oracles
        # stay byte-accurate on non-ASCII content (md5 in DuckDB/most
        # engines takes strings only)
        return [
            (pathway, j, hashlib.md5(frames[src].hex().upper().encode()).hexdigest())
            for pathway, k in (("fast", num_frames), ("slow", num_frames // alpha))
            for j, src in enumerate(sample_indices(len(frames), k))
        ]

    return map_blobs(
        df, id_col, media_col,
        "doc_id long, pathway string, frame_idx int, frame_md5 string", fn,
    )


# ------------------------------------------------------------- video (AVI)


def synth_avi(frames: list[bytes], width: int, height: int, fps: int = 10) -> bytes:
    """Serialize per-frame JPEG blobs into a REAL RIFF/AVI MJPEG
    container: RIFF('AVI ' LIST(hdrl: avih + LIST(strl: strh('vids',
    'MJPG') + strf(BITMAPINFOHEADER))) + LIST(movi: '00dc' chunks,
    word-aligned) + idx1). This is the container layout every AVI
    reader walks (the reference ingests videos through such container
    parsing inside cv2.VideoCapture, reference/datasets/videoset.py:
    72-103); the synthetic AVIs exercise the engine's parser
    byte-for-byte."""
    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    usec = int(round(1_000_000 / fps))
    buf_sz = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<14I", usec, buf_sz * fps, 0, 0x10, len(frames), 0, 1, buf_sz,
        width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHH8I4H", 0, 0, 0, 0, 1, fps, 0, len(frames),
                      buf_sz, 0xFFFFFFFF, 0, 0, 0, width, height)
    )
    strf = (
        struct.pack("<IiiHH", 40, width, height, 1, 24)
        + b"MJPG"
        + struct.pack("<iiIII", width * height * 3, 0, 0, 0, 0)
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_payload = b""
    offsets = []
    for f in frames:
        offsets.append(4 + len(movi_payload))  # from the 'movi' fourcc
        movi_payload += chunk(b"00dc", f)
    movi = lst(b"movi", movi_payload)
    idx = b"".join(
        b"00dc" + struct.pack("<III", 0x10, off, len(f))
        for off, f in zip(offsets, frames)
    )
    payload = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def decode_avi(data: bytes) -> dict:
    """REAL RIFF/AVI container parse via stdlib ``struct``: validates
    the RIFF/'AVI ' signature, reads stream geometry from the ``avih``
    main header (frame period, frame count, width, height), and walks
    the ``movi`` list collecting compressed video chunks ('00dc'/'00db',
    honoring word-alignment pad bytes). Returns dict(width, height,
    n_frames, fps, frames=[jpeg bytes, ...]). Only the container is
    parsed here — per-frame pixel decode is :func:`decode_jpeg`
    (MJPEG = a baseline JPEG per frame). Non-MJPEG codecs raise
    NotImplementedError. Reference analog: cv2.VideoCapture's demux +
    per-frame decode, reference/datasets/videoset.py:72-103."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    width = height = n_frames = None
    fps = None
    codec = None
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool) -> None:
        nonlocal width, height, n_frames, fps, codec
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            ln = struct.unpack_from("<I", buf, pos + 4)[0]
            body = pos + 8
            if fourcc == b"LIST":
                kind = buf[body : body + 4]
                walk(buf, body + 4, body + ln, in_movi or kind == b"movi")
            elif fourcc == b"avih":
                usec, _, _, _, nf = struct.unpack_from("<5I", buf, body)
                n_frames = nf
                fps = round(1_000_000 / usec, 3) if usec else None
                width, height = struct.unpack_from("<II", buf, body + 32)
            elif fourcc == b"strh":
                if buf[body : body + 4] == b"vids":
                    codec = buf[body + 4 : body + 8]
            elif in_movi and fourcc[2:4] in (b"dc", b"db"):
                frames.append(buf[body : body + ln])
            pos = body + ln + (ln & 1)  # chunks are word-aligned

    walk(data, 12, 12 + struct.unpack_from("<I", data, 4)[0] - 4, False)
    if width is None or n_frames is None:
        raise ValueError("AVI missing avih main header")
    if codec is not None and codec not in (b"MJPG", b"mjpg"):
        raise NotImplementedError(
            f"video codec {codec!r} unsupported (MJPEG only)"
        )
    if n_frames != len(frames):
        raise ValueError(
            f"AVI header declares {n_frames} frames, movi holds {len(frames)}"
        )
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "fps": fps,
        "frames": frames,
    }


def sample_indices(n: int, k: int) -> list[int]:
    """The dual-rate stride sampler's source-frame indices: stride =
    max(1, n // k), every stride-th frame, truncate to k, pad-repeat-
    last when short (reference/test_net.py:62-74 + 126-136). Shared by
    :func:`frame_sample` (byte-slice frames) and :func:`video_features`
    (real decoded frames) so the two paths sample identically."""
    if k < 1:
        raise ValueError(f"sample_indices needs k >= 1, got {k}")
    if n < 1:
        raise ValueError(f"sample_indices needs n >= 1 frames, got {n}")
    stride = max(1, n // k)
    picked = list(range(0, n, stride))[:k]
    while len(picked) < k:
        picked.append(picked[-1])
    return picked


def video_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    num_frames: int = 8,
    alpha: int = 4,
) -> DataFrame:
    """REAL video decode → dual-rate frame sampling → per-frame channel
    sums, Arrow-batched: parse the AVI container (:func:`decode_avi`),
    pick fast = ``num_frames`` evenly-strided frames and slow =
    ``num_frames/alpha`` frames (the reference's SlowFast sampling,
    reference/test_net.py:62-74), decode each SAMPLED frame's JPEG
    (:func:`decode_jpeg` — only sampled frames pay the pixel decode,
    exactly the reference's frame-seek discipline), and emit one row
    per (doc, pathway, frame_idx) with the frame's exact integer RGB
    sums. An undecodable blob — a bad container or ANY bad sampled
    frame — yields a single null row and no frame rows (P9,
    :func:`map_blobs`), but PARAMETER errors are validated eagerly and
    raise, so a typo (``num_frames < alpha`` → zero slow frames) cannot
    masquerade as an entire corpus of undecodable media."""
    _check_rates(num_frames, alpha)

    def fn(b):
        v = decode_avi(b)
        decoded: dict[int, dict] = {}
        rows = []
        for pathway, k in (("fast", num_frames), ("slow", num_frames // alpha)):
            for j, src in enumerate(sample_indices(v["n_frames"], k)):
                if src not in decoded:
                    decoded[src] = decode_jpeg(v["frames"][src])
                d = decoded[src]
                rows.append((pathway, j, src, d["width"], d["height"], d["bpp"],
                             *_rgb_sums(d["pixels"])))
        return rows

    schema = (
        "doc_id long, pathway string, frame_idx int, src_frame int, "
        "width int, height int, bpp int, sum_r long, sum_g long, sum_b long"
    )
    return map_blobs(df, id_col, media_col, schema, fn)


def _check_rates(num_frames: int, alpha: int) -> None:
    if num_frames // alpha < 1:
        raise ValueError(
            f"num_frames // alpha must be >= 1 (got {num_frames}//{alpha}) — "
            "the slow pathway would sample zero frames"
        )


def media_meta(df: DataFrame, media_col: str = "media", id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched metadata + (fake) feature extraction over a binary
    media column: byte length, md5 digest, 4-dim feature. A null blob
    gives n_bytes 0 and a null digest."""

    def fn(b):
        if b is None:
            return [(0, None, *fake_feature(0))]
        # md5 of the uppercase hex (portable to string-only md5
        # implementations, byte-accurate on any content)
        digest = hashlib.md5(b.hex().upper().encode()).hexdigest()
        return [(len(b), digest, *fake_feature(len(b)))]

    return map_blobs(df, id_col, media_col, META_SCHEMA, fn)


# --- GIF (LZW) -------------------------------------------------------
# The remaining first-class web image container: GIF87a/89a with real
# LZW entropy coding, palette lookup, Adam-style 4-pass interlace,
# local color tables, transparency, and multi-frame animation with
# disposal composition. Stdlib-only (struct + bit math), same contract
# as decode_png/decode_jpeg. Reference decode analog:
# reference/datasets/videoset.py:66-95 (cv2 decodes GIF frames
# natively); animated-GIF frame extraction is the reference's
# video-frame-sampling discipline on a different container.

_GIF_MAX_CODE = 4095  # 12-bit LZW ceiling (GIF spec)


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """REAL dictionary LZW compression of a palette-index sequence into
    a GIF entropy codestream (LSB-first variable-width codes, CLEAR
    emitted up front and again whenever the table would outgrow 12
    bits). The width-bump point mirrors the decoder's one-code-lag
    table build: the encoder widens when ``next_code`` passes
    ``(1 << size) + 1`` so every code is emitted at exactly the width
    the decoder will read it with."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_table():
        return {(i,): i for i in range(clear)}

    table = fresh_table()
    code_size = min_code_size + 1
    next_code = eoi + 1
    emit(clear, code_size)
    w: tuple[int, ...] = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        # early clear two entries shy of the 12-bit ceiling: zero
        # edge-case risk at a fraction-of-a-percent size cost
        if next_code >= _GIF_MAX_CODE - 1:
            emit(clear, code_size)
            table = fresh_table()
            code_size = min_code_size + 1
            next_code = eoi + 1
        else:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = (k,)
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(stream: bytes, min_code_size: int, max_pixels: int) -> list[int]:
    """REAL LZW decompression of a GIF entropy codestream: LSB-first
    bit unpacking, variable code width with growth at table-fill,
    CLEAR/EOI handling, the KwKwK (code == next_code) case, and the
    deferred-clear guard (a full table stops growing at 4096 entries
    until the encoder sends CLEAR)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    roots = [(i,) for i in range(clear)] + [(), ()]
    table = list(roots)
    code_size = min_code_size + 1
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    acc = 0
    nbits = 0
    i = 0
    while True:
        while nbits < code_size:
            if i >= len(stream):
                # missing EOI: tolerated in the wild — stop at stream end
                return out
            acc |= stream[i] << nbits
            i += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(roots)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(table) and code >= 0 and (code < clear or code > eoi):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + (prev[0],)  # KwKwK
        else:
            raise ValueError(f"corrupt LZW stream: code {code} of {len(table)}")
        if prev is not None and len(table) <= _GIF_MAX_CODE:
            table.append(prev + (entry[0],))
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out.extend(entry)
        if len(out) > max_pixels:
            raise ValueError("LZW output exceeds declared frame size")
        prev = entry
    return out


# 4-pass GIF interlace: (row offset, row stride) per pass
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(height: int) -> list[int]:
    rows: list[int] = []
    for off, step in _GIF_INTERLACE:
        rows.extend(range(off, height, step))
    return rows


def _gif_subblocks(payload: bytes) -> bytes:
    out = bytearray()
    for ofs in range(0, len(payload), 255):
        chunk = payload[ofs : ofs + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def synth_gif(
    frames,
    palette,
    *,
    width: int | None = None,
    height: int | None = None,
    interlace: bool = False,
    delays=None,
    transparent_idx: int | None = None,
    disposals=None,
    offsets=None,
    local_palettes=None,
) -> bytes:
    """Serialize palette-index frames into a real GIF89a blob: logical
    screen descriptor + global color table, per frame an optional
    graphic control extension (delay / disposal / transparency), image
    descriptor (offsets, optional local color table, optional
    interlace) and a real LZW-compressed codestream in 255-byte
    sub-blocks. The deterministic generator behind the
    ``multimodal_gif`` registry row and the codec round-trip tests."""
    import numpy as np

    frames = [np.asarray(fr, dtype=np.int64) for fr in frames]
    if not frames:
        raise ValueError("at least one frame required")
    offsets = offsets or [(0, 0)] * len(frames)
    if width is None:
        width = max(ox + fr.shape[1] for (ox, _), fr in zip(offsets, frames))
    if height is None:
        height = max(oy + fr.shape[0] for (_, oy), fr in zip(offsets, frames))
    ncol = max(2, len(palette))
    gct_bits = max(1, (ncol - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((gct_bits - 1) & 7), 0, 0)
    for i in range(1 << gct_bits):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes((r, g, b))
    for fi, fr in enumerate(frames):
        fh, fw = fr.shape
        ox, oy = offsets[fi]
        delay = (delays[fi] if delays else 0) or 0
        disposal = (disposals[fi] if disposals else 1) or 0
        if delay or transparent_idx is not None or disposal:
            flags = (disposal & 7) << 2 | (1 if transparent_idx is not None else 0)
            out += bytes((0x21, 0xF9, 4, flags))
            out += struct.pack("<H", delay)
            out += bytes((transparent_idx or 0, 0))
        lpal = local_palettes[fi] if local_palettes else None
        lbits = 0
        desc_flags = 0x40 if interlace else 0
        if lpal is not None:
            lbits = max(1, (max(2, len(lpal)) - 1).bit_length())
            desc_flags |= 0x80 | (lbits - 1)
        out += b"\x2c" + struct.pack("<HHHHB", ox, oy, fw, fh, desc_flags)
        if lpal is not None:
            for i in range(1 << lbits):
                r, g, b = lpal[i] if i < len(lpal) else (0, 0, 0)
                out += bytes((r, g, b))
        nbits = lbits or gct_bits
        min_code = max(2, nbits)
        rows = _gif_interlace_order(fh) if interlace else range(fh)
        seq = fr[list(rows)].reshape(-1)
        if seq.min() < 0 or seq.max() >= (1 << nbits):
            raise ValueError("palette index out of range for color table")
        out.append(min_code)
        out += _gif_subblocks(_gif_lzw_encode(seq, min_code))
    out.append(0x3B)
    return bytes(out)


def decode_gif(data: bytes) -> dict:
    """REAL animated-GIF decode via stdlib ``struct`` + pure-python LZW:
    header + logical screen descriptor, global/local color tables,
    graphic control extensions (delay, transparency, disposal), 4-pass
    interlace reordering, and frame composition onto the logical screen
    (disposal 0/1 keep, 2 restore-to-background — rendered as zeros, the
    browser-observable behavior for transparent backgrounds — and 3
    restore-to-previous) → dict(width, height, n_frames,
    frames=[HxWx3 uint8 composited canvases], delays). Reference decode
    analog: reference/datasets/videoset.py:66-95."""
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    width, height, flags, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((height, width, 3), dtype=np.uint8)
    frames: list = []
    delays: list[int] = []
    transparent: int | None = None
    disposal = 0
    delay = 0

    def skip_subblocks(p: int) -> int:
        while p < len(data) and data[p]:
            p += 1 + data[p]
        return p + 1

    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:  # graphic control
                gflags = data[pos + 1]
                delay = struct.unpack_from("<H", data, pos + 2)[0]
                transparent = data[pos + 4] if gflags & 1 else None
                disposal = (gflags >> 2) & 7
            pos = skip_subblocks(pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        ox, oy, fw, fh, dflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = gct
        if dflags & 0x80:
            n = 2 << (dflags & 7)
            pal = np.frombuffer(
                data, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame with no color table")
        min_code = data[pos]
        pos += 1
        payload = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            payload += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decode(bytes(payload), min_code, fw * fh)
        if len(idx) < fw * fh:
            raise ValueError("GIF frame pixel data truncated")
        grid = np.asarray(idx[: fw * fh], dtype=np.int32).reshape(fh, fw)
        if dflags & 0x40:  # interlaced: rows arrive in pass order
            order = _gif_interlace_order(fh)
            de = np.empty_like(grid)
            de[order] = grid
            grid = de
        if grid.max() >= len(pal):
            raise ValueError("palette index out of range")
        saved = canvas.copy() if disposal == 3 else None
        region = pal[grid]
        target = canvas[oy : oy + fh, ox : ox + fw]
        if transparent is not None:
            mask = grid != transparent
            target[mask] = region[mask]
        else:
            target[:, :] = region
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:
            canvas[oy : oy + fh, ox : ox + fw] = 0
        elif disposal == 3 and saved is not None:
            canvas = saved
        transparent = None
        disposal = 0
        delay = 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return {
        "width": int(width),
        "height": int(height),
        "n_frames": len(frames),
        "frames": frames,
        "delays": delays,
    }


def gif_features(
    df: DataFrame, media_col: str = "media", id_col: str = "doc_id"
) -> DataFrame:
    """REAL animated-GIF decode → per-frame channel sums, Arrow-batched
    (:func:`decode_gif` over :func:`map_blobs`): one output row per
    (doc, frame) with the composited frame's exact integer RGB sums.
    Undecodable blobs yield a single null row (the P9 frame-validity
    rule). The binary column crosses the JVM↔Python
    boundary once per Arrow batch; decode parallelism is the
    DataFrame's partitioning, so the operator scales with executors
    exactly like the reference's per-clip decode loop
    (reference/datasets/videoset.py:66-103)."""

    def fn(b):
        g = decode_gif(b)
        return [
            (j, g["width"], g["height"], g["n_frames"], *_rgb_sums(fr))
            for j, fr in enumerate(g["frames"])
        ]

    schema = (
        "doc_id long, frame_idx int, width int, height int, "
        "n_frames int, sum_r long, sum_g long, sum_b long"
    )
    return map_blobs(df, id_col, media_col, schema, fn)


def audio_spectral(
    df: DataFrame, media_col: str = "audio", id_col: str = "doc_id"
) -> DataFrame:
    """Arrow-batched SPECTRAL feature extraction over a WAV binary
    column — the audio analog of the reference's per-clip feature
    extractor (reference/extract_feature.py: decode -> model ->
    feature vector), with an FFT in place of the network: real RIFF
    decode (:func:`decode_audio`), mono fold (channel mean in int64),
    one rFFT over the full clip, and the top-2 magnitude bins above DC
    with the dominant-bin magnitude ratio. For a tone synthesized AT
    an exact bin the argmax is exact regardless of float noise, which
    is what makes the ``audio_spectral`` registry row hash-checkable:
    every output is an integer (bins, counts) except the ratio, which
    is rounded. Batches stream through :func:`map_blobs` (one numpy
    rFFT per clip, vectorized); null/corrupt/empty blobs yield a null
    row (P9 policy)."""
    import numpy as np

    def fn(b):
        d = decode_audio(b)
        pcm = np.frombuffer(d["pcm"], dtype="<i2").astype("float64")
        ch = d["channels"]
        if ch > 1:
            pcm = pcm.reshape(-1, ch).mean(axis=1)
        if not len(pcm):
            raise ValueError("empty clip")
        mag = np.abs(np.fft.rfft(pcm))
        mag[0] = 0.0  # DC carries synthesis offset, not tone
        order = np.argsort(-mag, kind="stable")
        dom = int(order[0])
        second = int(order[1]) if len(order) > 1 else None
        tot = float(mag.sum())
        ratio = int(round(100.0 * float(mag[dom]) / tot)) if tot > 0 else 0
        return [(len(pcm), dom, second, ratio)]

    schema = (
        "doc_id long, n_samples int, dom_bin int, second_bin int, "
        "dom_ratio_pct int"
    )
    return map_blobs(df, id_col, media_col, schema, fn)


def _jpeg_lossless_predict(
    plane, x: int, y: int, predictor: int, default: int
) -> int:
    """T.81 H.1.2.1 prediction: the scan's first sample uses the
    midpoint default, the rest of the first line uses Ra, the first
    sample of every other line uses Rb, and interior samples use the
    SOS-selected predictor 1-7 (>> is the spec's arithmetic shift)."""
    if x == 0 and y == 0:
        return default
    if y == 0:
        return plane[0][x - 1]
    if x == 0:
        return plane[y - 1][0]
    a, b, c = plane[y][x - 1], plane[y - 1][x], plane[y - 1][x - 1]
    return {
        1: a,
        2: b,
        3: c,
        4: a + b - c,
        5: a + ((b - c) >> 1),
        6: b + ((a - c) >> 1),
        7: (a + b) >> 1,
    }[predictor]


def _jpeg_lossless_scan(
    scan: dict, planes, width: int, height: int, precision: int
) -> None:
    """Lossless (SOF3) scan decode: per sample, a DC-table Huffman
    category + extend bits give the mod-65536 difference from the
    prediction (SSSS=16 encodes 32768 with no extra bits). Components
    interleave one sample per MCU (h=v=1 enforced by the caller);
    restart intervals are refused by the caller (single segment)."""
    predictor, pt = scan["ss"], scan["al"]
    if not 1 <= predictor <= 7:
        raise ValueError(f"bad lossless predictor {predictor}")
    default = 1 << (precision - pt - 1)
    rd = _BitReader(scan["segments"][0])
    order = scan["order"]
    for y in range(height):
        for x in range(width):
            for ci, _, _ in order:
                t = _jpeg_huff_decode(rd, scan["dc"][ci])
                if t > 16:
                    raise ValueError(f"bad lossless category {t}")
                diff = 32768 if t == 16 else _jpeg_extend(rd.receive(t), t)
                px = _jpeg_lossless_predict(
                    planes[ci], x, y, predictor, default
                )
                planes[ci][y][x] = (px + diff) % 65536


def synth_jpeg_lossless(
    width: int,
    height: int,
    sample_fn,
    precision: int = 8,
    predictor: int = 1,
    pt: int = 0,
    ncomp: int = 1,
) -> bytes:
    """Serialize ``sample_fn(x, y, c) -> int`` (values in
    [0, 2**precision)) into a REAL lossless JPEG (T.81 process 14,
    SOF3): one shared 17-category Huffman table, SOS carrying the
    predictor in Ss and the point transform in Al, mod-65536
    difference coding with byte stuffing. The whole point of the
    format is EXACT round-trip — decode_jpeg returns the input
    samples bit-for-bit (tests assert it), which is what lets the
    ``multimodal_jpeg_lossless`` oracle recompute aggregates
    analytically."""
    dc_bits, dc_vals, codes = _jpeg_encoder_tables(tuple(range(17)), 5)
    w = _JpegWriter()
    w.sof(0xC3, precision, width, height, [0x11] * ncomp)
    w.dht(0x00, dc_bits, dc_vals)
    w.sos(list(range(1, ncomp + 1)), predictor, 0, pt)

    default = 1 << (precision - pt - 1)
    planes = [
        [[(int(sample_fn(x, y, c)) >> pt) for x in range(width)]
         for y in range(height)]
        for c in range(ncomp)
    ]
    for y in range(height):
        for x in range(width):
            for c in range(ncomp):
                px = _jpeg_lossless_predict(
                    planes[c], x, y, predictor, default
                )
                diff = (planes[c][y][x] - px) % 65536
                if diff >= 32768 and diff != 32768:
                    diff -= 65536
                if diff == 32768:
                    w.put(*codes[16])  # SSSS=16: no magnitude bits
                else:
                    w.put_dc(codes, diff)
    return w.finish()
