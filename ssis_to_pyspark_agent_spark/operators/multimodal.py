"""Multimodal columns (SURVEY §2.12 — NEW).

Images/audio/video as opaque ``binary`` payloads with a typed metadata
struct. The Spark-side plumbing (schema, partition sizing, Arrow-batched
UDF signatures) is real and tested. Metadata extraction is REAL for
container headers — PNG IHDR, JPEG SOFn, GIF logical screen descriptor,
WAV fmt/data chunks — via stdlib ``struct`` (no codec deps needed for
dimensions/duration). Pixel/sample decode is REAL for every image
format and for PCM audio — no codec library needed:
``decoder='png'`` = stdlib zlib inflate + the PNG unfilter pass in
numpy (:func:`decode_png_pixels`); ``decoder='gif'`` = the spec's
variable-width LZW + palette expansion (:func:`decode_gif_pixels`);
``decoder='jpeg'`` = baseline marker walk + canonical Huffman entropy
decode + dequant + exact float64 IDCT + YCbCr->RGB
(:func:`decode_jpeg_pixels`); WAV PCM via ``media.audio_stats`` /
:func:`decode_wav_samples` (for PCM the container parse IS the
codec). Only compressed AUDIO (mp3/opus — needs ffmpeg-class libs)
has no real path; ``decoder='stub'`` remains as the md5 deterministic
fake whose output an engine-neutral SQL oracle can re-derive (q67
runs it over synthetic payloads so the Arrow chain stays
hash-checked).

Scale notes: the decoders stream Arrow batches one at a time, so Python
memory per task is bounded by `spark.sql.execution.arrow.maxRecordsPerBatch`
rows, not by how many rows a partition holds. Metadata-only
transformations must never deserialize the payload column (column pruning
does this for free as long as ops stay declarative).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssis_to_pyspark_agent_spark.operators import operator

# Canonical multimodal column bundle: payload + typed metadata.
MEDIA_SCHEMA = (
    "media struct<uri:string, mime:string, width:int, height:int, "
    "duration_ms:bigint, n_frames:int>"
)


@operator("media.attach_meta")
def attach_meta(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Wrap a binary column with the typed metadata struct. Cheap/lazy:
    metadata extraction here is header-sniffing only (magic bytes for
    mime), never a full decode."""
    df: DataFrame = inputs[0]
    bin_col = config["binary_col"]
    uri_col = config.get("uri_col")
    head = F.hex(F.substring(F.col(bin_col), 1, 4))
    mime = (
        F.when(head.startswith("FFD8"), "image/jpeg")
        .when(head == "89504E47", "image/png")
        .when(head == "52494646", "audio/wav")
        .when(head == "4F676753", "audio/ogg")
        .otherwise("application/octet-stream")
    )
    meta = F.struct(
        (F.col(uri_col) if uri_col else F.lit(None).cast("string")).alias("uri"),
        mime.alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
        F.lit(None).cast("int").alias("n_frames"),
    )
    return df.withColumn(config.get("out", "media"), meta)


def _decode_image_stub(payload: bytes) -> dict[str, Any]:
    """ORACLE-CHECKABLE deterministic fake: 'decodes' width/height from
    an md5 of the payload, so q67 can run it over synthetic utf-8
    payloads and hash-check the full Arrow decode chain against an
    engine-neutral SQL oracle. Real formats use the real decoders
    (decoder='png'/'gif'/'jpeg', media.audio_stats); only compressed
    audio (mp3/opus) still needs an external lib."""
    import hashlib

    h = hashlib.md5(payload or b"").digest()
    return {
        "format": "stub",
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "duration_ms": None,
        "ok": True,
    }


def parse_media_header(payload: bytes) -> dict[str, Any]:
    """REAL container-header metadata via stdlib ``struct`` — no codec
    libraries needed for true dimensions/duration:

    - PNG: IHDR width/height (big-endian u32 at offset 16/20)
    - JPEG: marker walk to SOF0/1/2/... (height/width big-endian u16)
    - GIF: logical screen descriptor (little-endian u16 at 6/8)
    - WAV: RIFF chunk walk — fmt byte-rate + data size -> duration_ms

    Unknown/truncated payloads return ok=False with null metadata (never a
    guess). Runs per-row inside an Arrow batch; pure byte peeking, so the
    cost is bounded by header size, not payload size."""
    import struct as _s

    def _dims_ok(w: int, h: int) -> bool:
        # spec says u32, the output schema says Int32: a forged header
        # with a dimension above 2^31-1 must come back ok=False, not
        # blow up pd.array(dtype="Int32") and fail the whole Arrow task
        return 0 < w <= 0x7FFFFFFF and 0 < h <= 0x7FFFFFFF

    p = payload or b""
    try:
        if p[:8] == b"\x89PNG\r\n\x1a\n" and p[12:16] == b"IHDR":
            w, h = _s.unpack(">II", p[16:24])
            if _dims_ok(w, h):
                return {"format": "png", "width": w, "height": h,
                        "duration_ms": None, "ok": True}
        elif p[:2] == b"\xff\xd8":
            i = 2
            while i + 9 < len(p):
                if p[i] != 0xFF:
                    i += 1
                    continue
                marker = p[i + 1]
                if marker == 0xFF:
                    i += 1  # 0xFF fill/padding byte before a marker
                    continue
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length
                    continue
                if marker in (0x00, 0xD9, 0xDA):
                    # 0xFF00 is entropy byte-stuffing and 0xD9/0xDA mark
                    # EOI / start-of-scan: a SOF must precede SOS, so
                    # walking further would scan compressed data where a
                    # coincidental 0xFFCx would yield FABRICATED
                    # dimensions with ok=True
                    break
                (seglen,) = _s.unpack(">H", p[i + 2:i + 4])
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = _s.unpack(">HH", p[i + 5:i + 9])
                    if _dims_ok(w, h):
                        return {"format": "jpeg", "width": w, "height": h,
                                "duration_ms": None, "ok": True}
                    break
                i += 2 + seglen
        if p[:6] in (b"GIF87a", b"GIF89a"):
            w, h = _s.unpack("<HH", p[6:10])
            return {"format": "gif", "width": w, "height": h,
                    "duration_ms": None, "ok": True}
        if p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            i, byte_rate, data_size = 12, None, None
            while i + 8 <= len(p):
                cid = p[i:i + 4]
                (csize,) = _s.unpack("<I", p[i + 4:i + 8])
                if cid == b"fmt " and csize >= 12:
                    # chunk data: fmt(2) channels(2) rate(4) byte_rate(4)
                    (byte_rate,) = _s.unpack("<I", p[i + 16:i + 20])
                elif cid == b"data":
                    data_size = csize
                i += 8 + csize + (csize & 1)  # chunks are 2-byte aligned
            if byte_rate and data_size is not None:
                return {"format": "wav", "width": None, "height": None,
                        "duration_ms": data_size * 1000 // byte_rate,
                        "ok": True}
    except (IndexError, ValueError, _s.error):
        pass
    return {"format": None, "width": None, "height": None,
            "duration_ms": None, "ok": False}


def decode_png_pixels(payload: bytes) -> dict[str, Any]:
    """REAL PNG pixel decode — stdlib ``zlib`` inflate + the spec's
    unfilter pass (None/Sub/Up/Average/Paeth, RFC 2083 §6) in numpy.
    No codec library needed: PNG's compression IS zlib, and the only
    image-specific work is the per-scanline byte predictor.

    Supported: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette,
    expanded to RGB — or RGBA when a tRNS chunk is present), 4
    (gray+alpha), 6 (RGBA), non-interlaced. Anything else (16-bit,
    sub-byte depths, Adam7 interlace, truncated/corrupt streams) returns
    ``ok=False`` — fail loudly, never a guessed pixel.

    Returns ``{format, width, height, channels, pixels, ok}`` where
    ``pixels`` is the raw row-major bytes (h*w*channels) AFTER palette
    expansion.

    Unfilter cost model: None/Up are whole-row vectorized; Sub is a
    per-channel ``cumsum % 256`` (the recurrence rec[x]=raw[x]+rec[x-bpp]
    telescopes); Average/Paeth need the serial left-neighbor, so they
    loop per PIXEL with the channel vector done in numpy — O(w) python
    iterations per filtered row, bounded and branch-free inside.
    """
    import struct as _s
    import zlib

    import numpy as np

    bad = {"format": None, "width": None, "height": None,
           "channels": None, "pixels": None, "ok": False}
    p = payload or b""
    if p[:8] != b"\x89PNG\r\n\x1a\n":
        return bad
    try:
        ihdr = None
        plte = None
        trns = None
        idat: list[bytes] = []
        i = 8
        while i + 8 <= len(p):
            (clen,) = _s.unpack(">I", p[i:i + 4])
            ctype = p[i + 4:i + 8]
            data = p[i + 8:i + 8 + clen]
            if len(data) != clen:
                return bad  # truncated chunk
            if ctype == b"IHDR":
                ihdr = data
            elif ctype == b"PLTE":
                plte = data
            elif ctype == b"tRNS":
                trns = data
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
            i += 12 + clen  # length + type + payload + crc32
        if ihdr is None or len(ihdr) < 13 or not idat:
            return bad
        w, h, depth, color, comp, filt, interlace = _s.unpack(
            ">IIBBBBB", ihdr[:13])
        n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
        if (depth != 8 or comp != 0 or filt != 0 or interlace != 0
                or n_ch is None or w == 0 or h == 0 or w * h > 1 << 26):
            return bad  # unsupported shape — never guess pixels
        stride = w * n_ch
        expect = (stride + 1) * h
        # Bounded inflate: payloads are untrusted web-corpus bytes, and a
        # crafted IDAT can expand ~1000x past its declared dimensions. Cap
        # the output at expect+1 so an oversize stream costs one extra
        # byte, not a multi-GB executor allocation (ADVICE round 8).
        # Strictness preserved from the uncapped zlib.decompress days
        # (ADVICE round 9): the stream must TERMINATE (eof — a truncated
        # deflate body is corrupt, not short) with nothing after the
        # adler32 trailer (unused_data — trailing garbage in IDAT is
        # corrupt, not ignorable).
        d = zlib.decompressobj()
        raw = d.decompress(b"".join(idat), expect + 1)
        if len(raw) != expect or not d.eof or d.unused_data:
            return bad
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        ftypes = rows[:, 0]
        if int(ftypes.max(initial=0)) > 4:
            return bad
        out = np.zeros((h, stride), dtype=np.uint8)
        for y in range(h):
            ft = int(ftypes[y])
            line = rows[y, 1:].astype(np.int32)
            prev = out[y - 1].astype(np.int32) if y else np.zeros(
                stride, np.int32)
            if ft == 0:
                rec = line
            elif ft == 1:  # Sub: rec[x] = raw[x] + rec[x-bpp]
                rec = np.cumsum(
                    line.reshape(w, n_ch), axis=0, dtype=np.int64) & 0xFF
                rec = rec.reshape(stride)
            elif ft == 2:  # Up
                rec = (line + prev) & 0xFF
            else:  # Average (3) / Paeth (4): serial left-neighbor
                px = line.reshape(w, n_ch)
                up = prev.reshape(w, n_ch)
                rec2 = np.zeros((w, n_ch), np.int32)
                left = np.zeros(n_ch, np.int32)
                ul = np.zeros(n_ch, np.int32)
                for x in range(w):
                    if ft == 3:
                        pred = (left + up[x]) >> 1
                    else:
                        q = left + up[x] - ul
                        pa = np.abs(q - left)
                        pb = np.abs(q - up[x])
                        pc = np.abs(q - ul)
                        pred = np.where(
                            (pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, up[x], ul))
                    left = (px[x] + pred) & 0xFF
                    ul = up[x]
                    rec2[x] = left
                rec = rec2.reshape(stride)
            out[y] = rec
        if color == 3:  # palette expansion
            if plte is None or len(plte) % 3:
                return bad
            pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
            idx = out.reshape(h, w)
            if int(idx.max()) >= len(pal):
                return bad
            rgb = pal[idx]  # (h, w, 3)
            if trns is not None:
                alpha = np.full(len(pal), 255, np.uint8)
                alpha[:len(trns)] = np.frombuffer(trns, np.uint8)
                rgb = np.dstack([rgb, alpha[idx]])
                n_ch = 4
            else:
                n_ch = 3
            out = rgb.reshape(h, w * n_ch)
        return {"format": "png", "width": int(w), "height": int(h),
                "channels": int(n_ch), "pixels": out.tobytes(), "ok": True}
    except (IndexError, ValueError, _s.error, zlib.error, MemoryError):
        return bad


@operator("media.decode")
def decode(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Decode payloads via mapInPandas (Arrow batches). Output adds
    decoded_format/decoded_width/decoded_height/decoded_duration_ms/
    decode_ok. Payloads stream one Arrow batch at a time, so
    `spark.sql.execution.arrow.maxRecordsPerBatch` bounds Python memory
    against wide binary rows.

    `decoder`: 'headers' (default) — REAL stdlib container-header parse
    (see :func:`parse_media_header`); unrecognized payloads come back
    ok=False, never fabricated. 'png' — REAL pixel decode (zlib inflate +
    numpy unfilter, :func:`decode_png_pixels`): output additionally gains
    `decoded_channels int` and `pixels binary` (raw row-major RGB(A)/gray
    bytes after palette expansion); non-PNG or unsupported payloads come
    back ok=False with null pixels. 'gif' — REAL pixel decode too
    (variable-width LZW + palette, :func:`decode_gif_pixels`): the png
    columns plus `decoded_n_frames int`; pixels are the first frame's
    rect. 'stub' — the deterministic md5 fake that stands in for the
    compressed codecs absent from this container (JPEG DCT, mp3/opus;
    q67 uses it so the full Arrow chain is still hash-checked against a
    SQL oracle over synthetic payloads)."""
    df: DataFrame = inputs[0]
    bin_col = config["binary_col"]
    mode = config.get("decoder", "headers")
    if mode not in ("headers", "png", "gif", "jpeg", "stub"):
        # loud, like dedup.spans eager / funnel materialize: a typo'd
        # decoder ('jpg', 'PNG') must not silently fall back to the
        # header parser's different output schema (ADVICE round 8)
        raise ValueError(
            "media.decode: decoder must be one of "
            f"headers|png|gif|jpeg|stub, got {mode!r}"
        )
    pixel_mode = mode in ("png", "gif", "jpeg")
    decode_fn = (
        decode_png_pixels if mode == "png"
        else decode_gif_pixels if mode == "gif"
        else decode_jpeg_pixels if mode == "jpeg"
        else _decode_image_stub if mode == "stub"
        else parse_media_header
    )
    if pixel_mode:
        extra_cols = ["decoded_format string", "decoded_width int",
                      "decoded_height int", "decoded_channels int"]
        if mode == "gif":
            extra_cols.append("decoded_n_frames int")
        extra_cols += ["decode_ok boolean", "pixels binary"]
    else:
        extra_cols = ["decoded_format string", "decoded_width int",
                      "decoded_height int", "decoded_duration_ms bigint",
                      "decode_ok boolean"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + extra_cols
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf[bin_col].map(
                lambda b: decode_fn(bytes(b) if b is not None else b"")
            )
            # assign order MUST mirror out_schema — mapInPandas pairs the
            # pandas columns with the declared schema positionally
            if pixel_mode:
                cols = dict(
                    decoded_format=[d["format"] for d in decoded],
                    decoded_width=pd.array(
                        [d["width"] for d in decoded], dtype="Int32"
                    ),
                    decoded_height=pd.array(
                        [d["height"] for d in decoded], dtype="Int32"
                    ),
                    decoded_channels=pd.array(
                        [d["channels"] for d in decoded], dtype="Int32"
                    ),
                )
                if mode == "gif":
                    cols["decoded_n_frames"] = pd.array(
                        [d["n_frames"] for d in decoded], dtype="Int32"
                    )
                pdf = pdf.assign(
                    **cols,
                    decode_ok=[d["ok"] for d in decoded],
                    pixels=[d["pixels"] for d in decoded],
                )
            else:
                pdf = pdf.assign(
                    decoded_format=[d["format"] for d in decoded],
                    decoded_width=pd.array(
                        [d["width"] for d in decoded], dtype="Int32"
                    ),
                    decoded_height=pd.array(
                        [d["height"] for d in decoded], dtype="Int32"
                    ),
                    decoded_duration_ms=pd.array(
                        [d["duration_ms"] for d in decoded], dtype="Int64"
                    ),
                    decode_ok=[d["ok"] for d in decoded],
                )
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def _lzw_decode(data: bytes, min_code: int, max_pixels: int):
    """GIF-variant LZW (variable code width, LSB-first bit packing,
    clear/end codes, 12-bit table cap with deferred-clear tolerance).
    Returns exactly ``max_pixels`` decoded index bytes or None on any
    inconsistency — never a padded/truncated guess."""
    clear = 1 << min_code
    end = clear + 1
    width = min_code + 1
    base = [bytes([c]) for c in range(clear)] + [b"", b""]
    table = list(base)
    out = bytearray()
    bitpos = 0
    nbits = len(data) * 8
    prev = None
    while bitpos + width <= nbits:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i:byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            return None
        out += entry
        if len(out) > max_pixels:
            return None
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out) if len(out) == max_pixels else None


def _gif_deinterlace(idx: bytes, w: int, h: int) -> bytes:
    """Undo GIF's 4-pass row interlace (rows stored in pass order
    0,8,16,... / 4,12,... / 2,6,... / 1,3,...)."""
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    rows: list[bytes] = [b""] * h
    for src, dst in enumerate(order):
        rows[dst] = idx[src * w:(src + 1) * w]
    return b"".join(rows)


def decode_gif_frames(payload: bytes) -> list[dict[str, Any]]:
    """All frames of a GIF as independent rects (no cross-frame disposal
    composition — each dict is that image descriptor's own pixels):
    ``[{frame_idx, left, top, width, height, channels, pixels}, ...]``.
    Empty list on any inconsistency. Shares the block walk and LZW core
    with :func:`decode_gif_pixels`."""
    return _decode_gif(payload, all_frames=True)["frames"] or []


def decode_gif_pixels(payload: bytes) -> dict[str, Any]:
    """REAL GIF pixel decode — the spec's variable-width LZW
    (:func:`_lzw_decode`) plus palette expansion, pure stdlib+numpy.
    Walks every block of a GIF87a/89a stream: ``n_frames`` counts all
    image descriptors, ``pixels`` is the FIRST frame's rect expanded
    through its (local-else-global) color table — RGB, or RGBA with
    alpha 0 at the graphic-control transparent index. Interlaced frames
    are de-interlaced. width/height are the FRAME rect (what the pixels
    describe), not the logical screen. Anything inconsistent —
    truncated sub-blocks, LZW stream not yielding exactly w*h indices,
    palette overrun — returns ``ok=False``, never guessed pixels.
    (Frame COMPOSITION across disposal methods is out of scope; use
    :func:`decode_gif_frames` for every frame's own rect.)"""
    d = _decode_gif(payload, all_frames=False)
    d.pop("frames", None)
    return d


def _expand_gif_palette(idx: bytes, pal: bytes, transparent):
    """(channels, pixel bytes) for an index stream through a GIF color
    table, or None on palette overrun."""
    import numpy as np

    pal_arr = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    ia = np.frombuffer(idx, np.uint8)
    if int(ia.max(initial=0)) >= len(pal_arr):
        return None
    rgb = pal_arr[ia]
    if transparent is not None:
        alpha = np.where(ia == transparent, 0, 255).astype(np.uint8)
        return 4, np.concatenate([rgb, alpha[:, None]], axis=1).tobytes()
    return 3, rgb.tobytes()


def _decode_gif(payload: bytes, all_frames: bool) -> dict[str, Any]:
    import struct as _s

    bad = {"format": None, "width": None, "height": None,
           "channels": None, "n_frames": None, "pixels": None,
           "frames": None, "ok": False}
    p = payload or b""
    if p[:6] not in (b"GIF87a", b"GIF89a"):
        return bad
    try:
        _w, _h, flags, _bg, _aspect = _s.unpack("<HHBBB", p[6:13])
        i = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = p[i:i + 3 * n]
            if len(gct) != 3 * n:
                return bad
            i += 3 * n
        frames = 0
        first = None
        frames_out: list[dict[str, Any]] = []
        transparent = None
        while i < len(p):
            b = p[i]
            i += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                label = p[i]
                i += 1
                if label == 0xF9 and p[i] >= 4:
                    blk = p[i + 1:i + 1 + p[i]]
                    transparent = blk[3] if blk[0] & 1 else None
                while p[i] != 0:
                    i += p[i] + 1
                i += 1
            elif b == 0x2C:  # image descriptor
                left, top, fw, fh, f2 = _s.unpack("<HHHHB", p[i:i + 9])
                i += 9
                pal = gct
                if f2 & 0x80:
                    n = 2 << (f2 & 7)
                    pal = p[i:i + 3 * n]
                    if len(pal) != 3 * n:
                        return bad
                    i += 3 * n
                min_code = p[i]
                i += 1
                data = bytearray()
                while p[i] != 0:
                    sz = p[i]
                    sub = p[i + 1:i + 1 + sz]
                    if len(sub) != sz:
                        return bad
                    data += sub
                    i += 1 + sz
                i += 1
                frames += 1
                if first is None or all_frames:
                    if pal is None or fw == 0 or fh == 0 or fw * fh > 1 << 26:
                        return bad
                    idx = _lzw_decode(bytes(data), min_code, fw * fh)
                    if idx is None:
                        return bad
                    if f2 & 0x40:
                        idx = _gif_deinterlace(idx, fw, fh)
                    expanded = _expand_gif_palette(idx, pal, transparent)
                    if expanded is None:
                        return bad
                    ch, px = expanded
                    if first is None:
                        first = (fw, fh, ch, px)
                    if all_frames:
                        frames_out.append({
                            "frame_idx": frames - 1, "left": int(left),
                            "top": int(top), "width": int(fw),
                            "height": int(fh), "channels": ch,
                            "pixels": px,
                        })
                transparent = None
            else:
                return bad  # unknown block type — corrupt
        if first is None:
            return bad
        fw, fh, ch, px = first
        return {"format": "gif", "width": int(fw), "height": int(fh),
                "channels": ch, "n_frames": frames, "pixels": px,
                "frames": frames_out, "ok": True}
    except (IndexError, ValueError, _s.error):
        return bad


class _JpegBitReader:
    """MSB-first bit reader over JPEG entropy-coded data: un-stuffs
    0xFF00, stops at (and reports) RSTn / other markers."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0
        self.marker = None  # set when a non-stuffing marker is hit

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.marker is not None or self.pos >= len(self.d):
                return
            b = self.d[self.pos]
            if b == 0xFF:
                nxt = (self.d[self.pos + 1]
                       if self.pos + 1 < len(self.d) else None)
                if nxt == 0x00:  # byte-stuffed literal 0xFF
                    self.pos += 2
                    self.bits = (self.bits << 8) | 0xFF
                    self.nbits += 8
                else:  # a real marker (or truncation) ends the segment
                    self.marker = nxt if nxt is not None else 0xD9
                    return
            else:
                self.pos += 1
                self.bits = (self.bits << 8) | b
                self.nbits += 8

    def read(self, n: int):
        if n == 0:
            return 0
        while self.nbits < n:
            before = self.nbits
            self._fill()
            if self.nbits == before:
                return None  # truncated
        v = (self.bits >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        return v

    def align_restart(self) -> bool:
        """Discard pad bits and consume the expected RSTn marker. The
        reader may not have LOOKED at the marker yet (it stops filling
        once it has enough bits), so probe the byte stream directly
        when no marker has been latched."""
        self.bits = 0
        self.nbits = 0
        if self.marker is None and self.pos + 1 < len(self.d) \
                and self.d[self.pos] == 0xFF \
                and 0xD0 <= self.d[self.pos + 1] <= 0xD7:
            self.marker = self.d[self.pos + 1]
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            self.pos += 2  # we stopped AT the 0xFF; skip FF + RSTn
            self.marker = None
            return True
        return False


def _huff_decode(rd: _JpegBitReader, table: dict):
    code, length = 0, 0
    while length < 16:
        bit = rd.read(1)
        if bit is None:
            return None
        code = (code << 1) | bit
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _jpeg_extend(v: int, s: int) -> int:
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    import numpy as np

    u = np.arange(8)
    a = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    a[0, :] /= np.sqrt(2)
    return a  # A[u, x] scaled; f = A.T @ F @ A


def decode_jpeg_pixels(payload: bytes) -> dict[str, Any]:
    """REAL baseline JPEG decode — pure stdlib+numpy: marker walk
    (DQT/DHT/SOF0/DRI/SOS), canonical Huffman entropy decode with
    0xFF00 un-stuffing and restart-marker handling, DC prediction,
    zigzag + dequantization, exact float64 8x8 IDCT (the spec's
    separable cosine basis as one matrix product per block), replicated
    chroma upsampling for subsampled scans, and BT.601 YCbCr->RGB.
    Supports baseline sequential (SOF0), 8-bit, 1 component (gray) or
    3 components with sampling factors in {1,2} (4:4:4 / 4:2:2 /
    4:2:0). Progressive (SOF2), arithmetic coding, 12-bit, and
    hierarchical modes return ``ok=False`` — fail loudly, never a
    guessed pixel. Output pixels are ``clamp(round(idct + 128))`` per
    the spec's level shift, so the entropy-decode -> IDCT path is
    EXACTLY reproducible by an independent direct-formula IDCT over
    the same integer coefficients (how the tests pin it).

    This is the correctness-complete slow path (pure-Python Huffman,
    ~ms per small image inside an Arrow batch); swap a codec lib into
    the same mapInPandas for production throughput."""
    import struct as _s

    import numpy as np

    bad = {"format": None, "width": None, "height": None,
           "channels": None, "pixels": None, "ok": False}
    p = payload or b""
    if p[:2] != b"\xff\xd8":
        return bad
    try:
        qt: dict[int, np.ndarray] = {}
        huff: dict[tuple[int, int], dict] = {}  # (class, id) -> code table
        comps = None  # list of (cid, h, v, tq)
        scan_sel = None  # per-scan (cid -> (dc_table, ac_table))
        w = h = 0
        restart_interval = 0
        i = 2
        scan_start = None
        while i + 4 <= len(p):
            if p[i] != 0xFF:
                return bad
            marker = p[i + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xD9:
                break
            (seglen,) = _s.unpack(">H", p[i + 2:i + 4])
            seg = p[i + 4:i + 2 + seglen]
            if len(seg) != seglen - 2:
                return bad
            if marker == 0xDB:  # DQT
                j = 0
                while j < len(seg):
                    pq, tq = seg[j] >> 4, seg[j] & 15
                    j += 1
                    if pq != 0:
                        return bad  # 16-bit tables: not baseline-8
                    qt[tq] = np.frombuffer(
                        seg[j:j + 64], np.uint8).astype(np.int32)
                    j += 64
            elif marker == 0xC4:  # DHT
                j = 0
                while j < len(seg):
                    tc, th = seg[j] >> 4, seg[j] & 15
                    counts = list(seg[j + 1:j + 17])
                    j += 17
                    table: dict[tuple[int, int], int] = {}
                    code = 0
                    for length in range(1, 17):
                        for _ in range(counts[length - 1]):
                            table[(length, code)] = seg[j]
                            j += 1
                            code += 1
                        code <<= 1
                    huff[(tc, th)] = table
            elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
                prec, h, w, nc = seg[0], *_s.unpack(">HH", seg[1:5]), seg[5]
                if prec != 8 or nc not in (1, 3) or w == 0 or h == 0 \
                        or w * h > 1 << 26:
                    return bad
                comps = []
                for c in range(nc):
                    cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                    hs, vs = hv >> 4, hv & 15
                    if hs not in (1, 2) or vs not in (1, 2):
                        return bad
                    comps.append((cid, hs, vs, tq))
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return bad  # progressive / arithmetic / hierarchical
            elif marker == 0xDD:  # DRI
                (restart_interval,) = _s.unpack(">H", seg[:2])
            elif marker == 0xDA:  # SOS
                ns = seg[0]
                scan_sel = {}
                for c in range(ns):
                    cid, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                    scan_sel[cid] = (tt >> 4, tt & 15)
                scan_start = i + 2 + seglen
                break
            i += 2 + seglen
        if comps is None or scan_sel is None or scan_start is None:
            return bad
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        # per-component block grids (over the padded MCU canvas)
        grids = []
        for cid, hs, vs, tq in comps:
            if tq not in qt or cid not in scan_sel:
                return bad
            td, ta = scan_sel[cid]
            if (0, td) not in huff or (1, ta) not in huff:
                return bad
            grids.append(np.zeros(
                (mcuy * vs, mcux * hs, 64), dtype=np.int32))
        rd = _JpegBitReader(p, scan_start)
        pred = [0] * len(comps)
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_count \
                        and mcu_count % restart_interval == 0:
                    if not rd.align_restart():
                        return bad
                    pred = [0] * len(comps)
                for ci, (cid, hs, vs, tq) in enumerate(comps):
                    td, ta = scan_sel[cid]
                    dct, act = huff[(0, td)], huff[(1, ta)]
                    for by in range(vs):
                        for bx in range(hs):
                            blk = grids[ci][my * vs + by, mx * hs + bx]
                            s = _huff_decode(rd, dct)
                            if s is None or s > 11:
                                return bad
                            diff = 0
                            if s:
                                v = rd.read(s)
                                if v is None:
                                    return bad
                                diff = _jpeg_extend(v, s)
                            pred[ci] += diff
                            blk[0] = pred[ci]
                            k = 1
                            while k < 64:
                                rs = _huff_decode(rd, act)
                                if rs is None:
                                    return bad
                                r, sz = rs >> 4, rs & 15
                                if sz == 0:
                                    if r == 15:
                                        k += 16  # ZRL
                                        continue
                                    break  # EOB
                                k += r
                                if k > 63:
                                    return bad
                                v = rd.read(sz)
                                if v is None:
                                    return bad
                                blk[k] = _jpeg_extend(v, sz)
                                k += 1
                mcu_count += 1
        # dequantize + IDCT per component, crop, upsample
        A = _jpeg_idct_matrix()
        planes = []
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            g = grids[ci]
            by, bx = g.shape[0], g.shape[1]
            coeff = np.zeros((by, bx, 64), np.float64)
            coeff[:, :, _JPEG_ZIGZAG] = g * qt[tq][None, None, :]
            F = coeff.reshape(by, bx, 8, 8)
            # per block: f = A.T @ F @ A  (A[u, x] = c(u)/2 cos((2x+1)uπ/16))
            f = np.einsum("ux,abuv,vw->abxw", A, F, A)
            plane = np.clip(np.round(f + 128), 0, 255).astype(np.uint8)
            full = plane.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
            cw = -(-w * hs // hmax)
            ch = -(-h * vs // vmax)
            full = full[:ch, :cw]
            if hs != hmax or vs != vmax:
                full = np.repeat(np.repeat(full, vmax // vs, axis=0),
                                 hmax // hs, axis=1)
            planes.append(full[:h, :w].astype(np.float64))
        if len(planes) == 1:
            return {"format": "jpeg", "width": int(w), "height": int(h),
                    "channels": 1,
                    "pixels": planes[0].astype(np.uint8).tobytes(),
                    "ok": True}
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128.0)
        gch = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack([r, gch, b], axis=-1)
        out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
        return {"format": "jpeg", "width": int(w), "height": int(h),
                "channels": 3, "pixels": out.tobytes(), "ok": True}
    except (IndexError, ValueError, _s.error):
        return bad


def decode_wav_samples(payload: bytes) -> dict[str, Any]:
    """REAL WAV sample decode — for PCM, the container parse IS the
    codec: stdlib ``struct`` walks the RIFF fmt/data chunks and numpy
    reinterprets the data bytes as samples. Supports PCM u8/i16/i32
    (format 1) and IEEE float32 (format 3), any channel count.
    Compressed WAV (ADPCM/mu-law/...) or truncated chunks return
    ``ok=False`` — never guessed samples.

    Returns ``{format, sample_rate, channels, n_samples, duration_ms,
    rms, peak, ok}`` with n_samples = frames per channel and rms/peak
    computed over all channels of the NORMALIZED signal ([-1, 1]:
    u8 -> (x-128)/128, i16 -> x/2^15, i32 -> x/2^31, f32 as-is) —
    the two numbers an audio-quality gate filters on (silence/clipping).
    rms/peak are float64 and exactly reproducible: the normalizations
    are dyadic, squares/sums of dyadic rationals are exact below 2^53,
    and sqrt is correctly rounded (NOTES invariant 19)."""
    import struct as _s

    import numpy as np

    bad = {"format": None, "sample_rate": None, "channels": None,
           "n_samples": None, "duration_ms": None, "rms": None,
           "peak": None, "ok": False}
    p = payload or b""
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return bad
    try:
        fmt = None
        data = None
        i = 12
        while i + 8 <= len(p):
            cid = p[i:i + 4]
            (csize,) = _s.unpack("<I", p[i + 4:i + 8])
            chunk = p[i + 8:i + 8 + csize]
            if len(chunk) != csize:
                return bad  # truncated
            if cid == b"fmt " and csize >= 16:
                fmt = _s.unpack("<HHIIHH", chunk[:16])
            elif cid == b"data":
                data = chunk
            i += 8 + csize + (csize & 1)
        if fmt is None or data is None:
            return bad
        audio_format, n_ch, rate, _byte_rate, block_align, bits = fmt
        if n_ch < 1 or rate < 1:
            return bad
        kind = {(1, 8): np.uint8, (1, 16): np.int16, (1, 32): np.int32,
                (3, 32): np.float32}.get((audio_format, bits))
        if kind is None:
            return bad  # compressed/esoteric — fail loudly
        width = bits // 8
        frame = n_ch * width
        if block_align not in (0, frame):
            return bad
        n_frames = len(data) // frame
        arr = np.frombuffer(data[:n_frames * frame], dtype=kind)
        if kind is np.uint8:
            x = (arr.astype(np.float64) - 128.0) / 128.0
        elif kind is np.int16:
            x = arr.astype(np.float64) / 32768.0
        elif kind is np.int32:
            x = arr.astype(np.float64) / 2147483648.0
        else:
            x = arr.astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
        peak = float(np.max(np.abs(x))) if len(x) else 0.0
        return {"format": "wav", "sample_rate": int(rate),
                "channels": int(n_ch), "n_samples": int(n_frames),
                "duration_ms": int(n_frames * 1000 // rate),
                "rms": rms, "peak": peak, "ok": True}
    except (IndexError, ValueError, _s.error):
        return bad


@operator("media.audio_stats")
def audio_stats(spark: SparkSession, inputs, config, context) -> DataFrame:
    """REAL audio decode + quality stats over mapInPandas: WAV PCM
    payloads -> sample_rate/channels/n_samples/duration_ms plus the
    normalized-signal rms and peak an audio curation gate filters on
    (drop silence: rms ~ 0; drop clipped: peak ~ 1). Unsupported or
    compressed payloads come back audio_ok=False with null stats (gate
    them to a review port, never guess). Compressed codecs (mp3/opus)
    would slot into the same batch shape via a real decoder lib."""
    df: DataFrame = inputs[0]
    bin_col = config["binary_col"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["sample_rate int", "channels int", "n_samples bigint",
           "duration_ms bigint", "rms double", "peak double",
           "audio_ok boolean"]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            d = pdf[bin_col].map(
                lambda b: decode_wav_samples(bytes(b) if b is not None
                                             else b"")
            )
            yield pdf.assign(
                sample_rate=pd.array([v["sample_rate"] for v in d],
                                     dtype="Int32"),
                channels=pd.array([v["channels"] for v in d],
                                  dtype="Int32"),
                n_samples=pd.array([v["n_samples"] for v in d],
                                   dtype="Int64"),
                duration_ms=pd.array([v["duration_ms"] for v in d],
                                     dtype="Int64"),
                rms=pd.array([v["rms"] for v in d], dtype="Float64"),
                peak=pd.array([v["peak"] for v in d], dtype="Float64"),
                audio_ok=[v["ok"] for v in d],
            )

    return df.mapInPandas(batches, schema=out_schema)


@operator("media.features")
def features(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Feature-extraction hook: emits a deterministic pseudo-embedding
    (seeded from payload md5) of `dim` floats via a vectorized pandas
    transform — the exact plumbing a real CLIP/wav2vec batch would use
    (model inference per Arrow batch)."""
    df: DataFrame = inputs[0]
    bin_col = config["binary_col"]
    dim = config.get("dim", 8)
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"features array<float>"]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct as _struct

        def feat(b) -> list[float]:
            # hex-string md5 chain (not digest-bytes): every step is
            # md5(VARCHAR), so an engine-neutral SQL oracle can re-derive
            # the exact pseudo-embedding (DuckDB has no md5(BLOB))
            payload = bytes(b) if b is not None else b""
            out: list[float] = []
            seed_hex = hashlib.md5(payload).hexdigest()
            while len(out) < dim:
                seed_hex = hashlib.md5(seed_hex.encode()).hexdigest()
                out.extend(
                    v / 2**31
                    for v in _struct.unpack("<4i", bytes.fromhex(seed_hex))
                )
            return out[:dim]

        for pdf in it:
            yield pdf.assign(features=pdf[bin_col].map(feat))

    return df.mapInPandas(batches, schema=out_schema)


@operator("media.frame_sample")
def frame_sample(spark: SparkSession, inputs, config, context) -> DataFrame:
    """Frame sampling plumbing: explode each media row into `n` frame rows
    (frame_idx, frame payload stub). A real implementation replaces the
    slicer with an ffmpeg keyframe extractor inside the same mapInPandas.

    ``mode='gif'`` IS that real implementation for animated GIFs: every
    image descriptor decodes through the LZW core
    (:func:`decode_gif_frames`) and explodes into one row per frame with
    its rect (frame_left/top/width/height/channels) and raw RGB(A) pixel
    bytes — each frame's own rect, no disposal composition. Undecodable
    payloads yield zero frame rows (gate on a decode_ok leg upstream if
    they must be surfaced). ``n`` caps frames per doc (evenly strided,
    first frame always included); omit for all frames."""
    df: DataFrame = inputs[0]
    bin_col = config["binary_col"]
    if config.get("mode") == "gif":
        n_cap = config.get("n")
        out_schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}"
             for f in df.schema.fields]
            + ["frame_idx int", "frame_left int", "frame_top int",
               "frame_width int", "frame_height int",
               "frame_channels int", "frame binary"]
        )

        def gif_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # Pass-through columns are carried by POSITIONAL take on the
            # incoming pdf (row index repeated once per frame), never by
            # rebuilding rows through iterrows()+dicts: the dict
            # round-trip re-infers every dtype, so a null in an int
            # pass-through column became float64 NaN and could break the
            # cast back to the declared schema (round-8 ADVICE item).
            frame_keys = ("frame_idx", "left", "top", "width", "height",
                          "channels", "pixels")
            frame_cols = ["frame_idx", "frame_left", "frame_top",
                          "frame_width", "frame_height", "frame_channels",
                          "frame"]
            for pdf in it:
                take: list[int] = []
                extra: list[list] = [[] for _ in frame_cols]
                for pos, b in enumerate(pdf[bin_col]):
                    frames = decode_gif_frames(
                        bytes(b) if b is not None else b"")
                    if n_cap and len(frames) > n_cap:
                        # even stride, first frame always kept
                        step = len(frames) / n_cap
                        frames = [frames[int(j * step)]
                                  for j in range(n_cap)]
                    for fr in frames:
                        take.append(pos)
                        for vals, k in zip(extra, frame_keys):
                            vals.append(fr[k])
                out = pdf.iloc[take].reset_index(drop=True)
                for col, vals in zip(frame_cols, extra):
                    # 'frame' holds bytes -> object; the rects are ints
                    dtype = object if col == "frame" else "int64"
                    out[col] = pd.Series(vals, dtype=dtype)
                yield out

        return df.mapInPandas(gif_batches, schema=out_schema)
    n = config.get("n", 4)
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.struct(
            i.cast("int").alias("frame_idx"),
            # stub: byte-slice stands in for a decoded frame
            F.substring(F.col(bin_col), i * 16 + 1, 16).alias("frame"),
        ),
    )
    return df.withColumn("_f", F.explode(frames)).select(
        "*", F.col("_f.frame_idx").alias("frame_idx"), F.col("_f.frame").alias("frame")
    ).drop("_f")
