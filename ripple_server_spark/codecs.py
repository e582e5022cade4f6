"""Image and video codecs for the multimodal kernels: Pillow / PyAV
when installed, plus zero-dependency codecs — pure-numpy netpbm (PPM
``P6`` / PGM ``P5``), baseline PNG (stdlib zlib + numpy), and
YUV4MPEG2 (``y4m``) — that need no media library at all.

Why netpbm: the container ships no media libraries, so the kernels'
real (``fake=False``) paths used to raise ``NotImplementedError``
unconditionally here — the one part of the multimodal surface whose
real branch never executed in CI. Netpbm is a public, uncompressed
format (header ``P6\\n<width> <height>\\n<maxval>\\n`` followed by raw
big-endian RGB samples; ``P5`` is single-channel; ``#`` comments are
legal anywhere in the header whitespace) simple enough to decode with
numpy alone. With it, decode -> resize -> embed -> re-encode runs REAL
end-to-end in this environment — the same code shape a Pillow/JPEG
deployment executes.

Why PNG: "compressed formats need Pillow" stopped being true the
moment the compression in question is zlib, which ships in the
standard library. parse_png covers the baseline still-image profile
(8/16-bit gray/RGB/palette/alpha, all five scanline filters,
non-interlaced) from the public PNG specification, so a COMPRESSED
real-world format decodes in-container too. Baseline JPEG (SOF0/SOF1,
any sampling factors <= 2, restart markers) decodes via the pure-numpy
codec in codecs_jpeg.py — progressive/arithmetic/12-bit/CMYK still
require Pillow.

Why y4m: the same boundary existed for video — the frame sampler's
real path raised unconditionally because frame extraction was assumed
to need ffmpeg. YUV4MPEG2 is the public uncompressed interchange
format ffmpeg itself emits (stream header ``YUV4MPEG2 W<w> H<h>
F<num>:<den> ... C<colorspace>\\n`` followed by ``FRAME\\n`` + raw
planar YCbCr per frame), simple enough to parse with numpy alone —
so decode -> sample -> checksum runs REAL end-to-end in this
ffmpeg-free container, while compressed containers still require
PyAV.

All backends hide behind :func:`open_image` / :func:`open_video`,
which return uniform handles; kernels never branch on the backend,
and every "no backend decodes this payload" failure surfaces as the
one documented boundary type, ``NotImplementedError`` (malformed
payloads of a RECOGNIZED format stay ``ValueError``). Samples deeper
than 8 bits (netpbm maxval > 255, Pillow ``I``/``I;16``/``F`` modes,
y4m 10-bit colorspaces) are rejected rather than silently squashed.
"""

from __future__ import annotations

import io

import numpy as np

_GRAY_WEIGHTS = (0.299, 0.587, 0.114)  # ITU-R 601 luma, what PIL "L" uses


class ImageHandle:
    """Uniform decoded-image handle over the Pillow and numpy backends.

    ``arr`` is always (height, width, channels) uint8 — normalizing at
    the boundary keeps every kernel backend-agnostic.
    """

    def __init__(self, arr: np.ndarray, prefer_png: bool = False):
        if arr.ndim == 2:
            arr = arr[:, :, None]
        self.arr = np.ascontiguousarray(arr, dtype=np.uint8)
        self._prefer_png = prefer_png

    @property
    def width(self) -> int:
        return self.arr.shape[1]

    @property
    def height(self) -> int:
        return self.arr.shape[0]

    @property
    def channels(self) -> int:
        return self.arr.shape[2]

    def resize(self, w: int, h: int) -> "ImageHandle":
        """Nearest-neighbor resample (pixel-center rule): deterministic,
        allocation-bounded by the TARGET dims — the property that makes
        thumbnailing at scale an output-bounded pass."""
        if w <= 0 or h <= 0:
            raise ValueError(f"resize target must be positive, got {w}x{h}")
        src_h, src_w = self.arr.shape[:2]
        rows = np.minimum(((np.arange(h) + 0.5) * src_h / h).astype(np.int64), src_h - 1)
        cols = np.minimum(((np.arange(w) + 0.5) * src_w / w).astype(np.int64), src_w - 1)
        return ImageHandle(self.arr[rows[:, None], cols[None, :]], self._prefer_png)

    def gray_row(self, dim: int) -> list[float]:
        """Model-free visual feature: mean luma of ``dim`` vertical
        column bands, normalized to [0,1] — every pixel contributes
        (an image differing only off-center still embeds differently;
        a center-row sample would be blind to it).

        Memory shape: rows are reduced FIRST (``sum(axis=0)`` on the
        uint8 array, output is one W x C row), so no full-image float
        copy is ever allocated — O(W*H) reads, O(W) scratch.
        """
        sums = self.arr.sum(axis=0, dtype=np.float64)  # (w, c)
        if self.channels >= 3:
            col_luma = sums[:, :3] @ np.asarray(_GRAY_WEIGHTS)
        else:
            col_luma = sums[:, 0]
        w = col_luma.shape[0]
        # band b covers columns [floor(b*w/dim), floor((b+1)*w/dim));
        # reduceat needs strictly valid starts, so clamp for dim > w
        starts = np.minimum((np.arange(dim) * w) // dim, w - 1)
        band_sums = np.add.reduceat(col_luma, starts)
        ends = np.minimum(((np.arange(dim) + 1) * w) // dim, w)
        widths = np.maximum(ends - starts, 1)
        # reduceat folds equal adjacent starts (dim > w) into width-1
        # bands automatically; duplicated starts re-read the same column
        return [
            float(s) / (wd * self.height * 255.0)
            for s, wd in zip(band_sums, widths)
        ]

    def to_bytes(self) -> bytes:
        """Re-encode: PNG when the source payload was PNG-family
        (keeps the input's format family), netpbm raw otherwise —
        always losslessly re-decodable by open_image. Both encoders
        are the repo's own deterministic ones (encode_png is stdlib
        zlib), so output bytes never vary with the installed Pillow
        version."""
        if self._prefer_png:
            return encode_png(self.arr)
        return encode_netpbm(self.arr)


def encode_netpbm(arr: np.ndarray) -> bytes:
    """(h, w, c) uint8 -> P6 (c==3) or P5 (c==1) bytes per the public
    netpbm spec; 2- or 4-channel arrays drop to luma/RGB first (netpbm
    has no alpha)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c == 4:
        arr, c = arr[:, :, :3], 3
    elif c == 2:
        arr, c = arr[:, :, :1], 1
    if c not in (1, 3):
        raise ValueError(f"netpbm encodes 1 or 3 channels, got {c}")
    magic = b"P6" if c == 3 else b"P5"
    return magic + b"\n%d %d\n255\n" % (w, h) + arr.tobytes()


def parse_netpbm(b: bytes) -> ImageHandle | None:
    """Decode P5/P6 bytes -> ImageHandle; None when the magic number
    says this is not netpbm (lets callers fall through to their
    not-decodable error); ValueError on malformed/truncated netpbm."""
    if len(b) < 2 or b[:1] != b"P" or b[1:2] not in (b"5", b"6"):
        return None
    # the spec requires whitespace (or a comment) after the magic; a
    # glued header like b"P63 3..." means a byte was dropped — width
    # would silently mis-parse as 33, so refuse it
    if len(b) < 3 or not (b[2:3].isspace() or b[2:3] == b"#"):
        raise ValueError("netpbm: magic number not followed by whitespace")
    channels = 3 if b[1:2] == b"6" else 1

    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        # skip whitespace and '#' comments (legal anywhere in the header)
        while pos < len(b) and (b[pos : pos + 1].isspace() or b[pos : pos + 1] == b"#"):
            if b[pos : pos + 1] == b"#":
                nl = b.find(b"\n", pos)
                if nl < 0:
                    raise ValueError("netpbm: unterminated header comment")
                pos = nl
            pos += 1
        start = pos
        while pos < len(b) and b[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("netpbm: malformed header")
        fields.append(int(b[start:pos]))
    w, h, maxval = fields
    if w <= 0 or h <= 0:
        raise ValueError(f"netpbm: bad dimensions {w}x{h}")
    if maxval != 255:
        raise ValueError(f"netpbm: only maxval=255 supported, got {maxval}")
    # exactly ONE whitespace byte separates header from raster (spec);
    # anything else means the raster offset is wrong — refuse rather
    # than decode misaligned garbage pixels
    if pos >= len(b) or not b[pos : pos + 1].isspace():
        raise ValueError("netpbm: missing whitespace between header and raster")
    pos += 1
    n = w * h * channels
    raster = b[pos : pos + n]
    if len(raster) < n:
        raise ValueError(f"netpbm: truncated raster ({len(raster)} < {n} bytes)")
    arr = np.frombuffer(raster, dtype=np.uint8, count=n).reshape(h, w, channels)
    return ImageHandle(arr)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> channels (8-bit samples): gray, RGB, palette->RGB,
# gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass, from
# the public PNG specification §8.2. Each pass is an independently
# filtered sub-image; empty passes (dimension 0) contribute no bytes.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reconstruct ``h`` filtered scanlines (each ``1 + stride`` bytes:
    filter type + data) into the raw byte raster — the five PNG filters
    over BYTES with the left neighbor at distance ``bpp``. Shared by
    the sequential and Adam7 paths (each Adam7 pass unfilters as its
    own sub-image). Sub/Up are vectorized; Average/Paeth carry a
    per-pixel left dependency and run as per-row loops — fine for the
    thumbnail-sized images this in-container path exists for."""
    rows = raw.reshape(h, stride + 1)
    filters, lines = rows[:, 0], rows[:, 1:]
    recon = np.zeros((h, stride), dtype=np.uint8)
    w_px = stride // bpp
    for y in range(h):
        ft, line = int(filters[y]), lines[y]
        prior = recon[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if ft == 0:  # None
            recon[y] = line
        elif ft == 1:  # Sub: prefix sum per byte lane, mod 256
            lanes = line.reshape(w_px, bpp).astype(np.int64)
            recon[y] = (lanes.cumsum(axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            recon[y] = line + prior  # uint8 wraps mod 256
        elif ft == 3:  # Average (left dependency: per-pixel loop)
            out = recon[y]
            for x in range(stride):
                left = int(out[x - bpp]) if x >= bpp else 0
                out[x] = (int(line[x]) + (left + int(prior[x])) // 2) % 256
        elif ft == 4:  # Paeth (left dependency: per-pixel loop)
            out = recon[y]
            for x in range(stride):
                a = int(out[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                c = int(recon[y - 1][x - bpp]) if (x >= bpp and y) else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                out[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"png: unknown filter type {ft} at row {y}")
    return recon


def _adam7_dims(w: int, h: int) -> list[tuple[int, int, int, int, int, int]]:
    """Per-pass (x0, y0, dx, dy, pass_w, pass_h), empty passes skipped."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            out.append((x0, y0, dx, dy, pw, ph))
    return out


def _png_unpack_subbyte(
    rows: np.ndarray, nrows: int, width: int, depth: int
) -> np.ndarray:
    """Unpack (nrows, stride_bytes) filtered-reconstructed scanlines of
    a sub-byte-depth image into (nrows, width) raw sample values —
    MSB-first bit order within each byte (PNG 7.2), per-scanline byte
    padding discarded."""
    rows = rows.reshape(nrows, -1)
    bits = np.unpackbits(rows, axis=1)[:, : width * depth]
    groups = bits.reshape(nrows, width, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (groups * weights).sum(axis=2).astype(np.uint8)


def parse_png(b: bytes) -> ImageHandle | None:
    """Decode PNG bytes -> ImageHandle with stdlib zlib + numpy; None
    when the magic says this is not PNG; ValueError on
    malformed/truncated/unsupported PNG.

    Covers the full still-image profile: 1/2/4-bit packed samples
    (gray scaled x255/85/17 to the uint8 handle; palette indices used
    raw — round 10, previously a documented rejection), 8- and 16-bit
    samples, color types 0/2/3/4/6 (palette via PLTE lookup), all five
    scanline filters, sequential AND Adam7-interlaced layouts (each
    interlace pass unfilters as its own sub-image — sub-byte passes
    unpack to values before scattering, since per-pass bit phases
    differ from the final raster's — then scatters onto the full
    raster by the §8.2 pass grid). 16-bit rasters (common in
    scientific corpora) are filter-reconstructed at full byte
    precision — PNG filters operate on BYTES with the left neighbor at
    bpp = max(1, channels x depth / 8) — then scaled to the uniform
    uint8 handle by taking each big-endian sample's HIGH byte (v >> 8,
    the exact inverse of the v*257 8->16 expansion; Pillow's I;16->L
    uses the same convention). Rejected with ValueError: 16-bit
    palette and sub-byte truecolor/alpha (both invalid per spec),
    missing PLTE. Chunk CRCs are not verified (lenient, like most
    decoders — zlib's own checksum still guards the pixel data).
    Pillow remains the preferred bulk backend when installed.
    """
    import zlib

    if not b.startswith(_PNG_MAGIC[:4]):
        return None
    if not b.startswith(_PNG_MAGIC):
        raise ValueError("png: corrupt signature")
    pos = 8
    w = h = None
    depth = ctype = interlace = None
    idat = bytearray()
    plte: np.ndarray | None = None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError(f"png: truncated {typ!r} chunk")
        pos += 12 + ln  # length + type + data + crc (crc not verified)
        if typ == b"IHDR":
            if ln != 13:
                raise ValueError("png: bad IHDR length")
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype = data[8], data[9]
            interlace = data[12]
        elif typ == b"PLTE":
            if ln % 3:
                raise ValueError("png: bad PLTE length")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("png: missing IHDR")
    if w <= 0 or h <= 0:
        raise ValueError(f"png: bad dimensions {w}x{h}")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"png: invalid bit depth {depth}")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"png: unsupported color type {ctype}")
    if depth == 16 and ctype == 3:
        raise ValueError("png: 16-bit palette images are invalid per spec")
    if depth < 8 and ctype not in (0, 3):
        raise ValueError(
            f"png: sub-byte depth {depth} is only valid for grayscale or "
            f"palette images (color type {ctype} requires 8/16)"
        )
    if interlace not in (0, 1):
        raise ValueError(f"png: unknown interlace method {interlace}")
    if not idat:
        raise ValueError("png: missing IDAT")
    ch = _PNG_CHANNELS[ctype]
    # filter "left" distance is in BYTES, floored at 1 for sub-byte
    # depths (spec 9.2: packed pixels filter as whole bytes)
    bits_pp = ch * depth
    bpp = max(1, bits_pp // 8)
    try:
        raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    except zlib.error as exc:
        # recognized format, malformed payload -> ValueError like every
        # other codec here, never a backend-specific exception type
        raise ValueError(f"png: corrupt IDAT stream ({exc})") from exc
    stride = -(-w * bits_pp // 8)
    if interlace:
        passes = _adam7_dims(w, h)
        expect = sum(
            ph * (1 + -(-pw * bits_pp // 8)) for _, _, _, _, pw, ph in passes
        )
        if raw.size != expect:
            raise ValueError(
                f"png: interlaced raster size {raw.size} != {expect} expected"
            )
        pos = 0
        if depth < 8:
            # scatter unpacked VALUES (indices / raw gray levels): each
            # pass packs its own scanlines, so bit phases differ from
            # the final raster's and bytes cannot be scattered directly
            vals = np.zeros((h, w), dtype=np.uint8)
            for x0, y0, dx, dy, pw, ph in passes:
                pstride = -(-pw * depth // 8)
                npass = ph * (1 + pstride)
                sub = _png_unfilter(raw[pos : pos + npass], ph, pstride, 1)
                vals[y0::dy, x0::dx] = _png_unpack_subbyte(sub, ph, pw, depth)
                pos += npass
            arr = vals[:, :, None]
        else:
            full = np.zeros((h, w, bpp), dtype=np.uint8)
            for x0, y0, dx, dy, pw, ph in passes:
                npass = ph * (1 + pw * bpp)
                sub = _png_unfilter(raw[pos : pos + npass], ph, pw * bpp, bpp)
                full[y0::dy, x0::dx, :] = sub.reshape(ph, pw, bpp)
                pos += npass
            recon = full.reshape(h, stride)
    else:
        if raw.size != h * (stride + 1):
            raise ValueError(
                f"png: raster size {raw.size} != {h}x(1+{stride}) expected"
            )
        recon = _png_unfilter(raw, h, stride, bpp)
        if depth < 8:
            arr = _png_unpack_subbyte(recon, h, w, depth)[:, :, None]
    if depth == 16:
        # scale-to-8 policy: the HIGH byte of each big-endian sample
        # (v >> 8), the exact inverse of the v*257 8->16 expansion
        arr = np.ascontiguousarray(recon.reshape(h, w, ch, 2)[..., 0])
    elif depth == 8:
        arr = recon.reshape(h, w, ch)
    elif ctype == 0:
        # sub-byte gray: scale raw levels to the uniform uint8 handle
        # (255/(2^d - 1) is exact for d in {1,2,4}: x255, x85, x17)
        arr = (arr.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    if ctype == 3:
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        idx = arr[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("png: palette index out of range")
        arr = plte[idx]
    return ImageHandle(arr, prefer_png=True)


def encode_png(
    arr: np.ndarray, interlace: bool = False, bit_depth: int | None = None
) -> bytes:
    """(h, w, c) uint8 (or uint16 -> bit-depth-16, big-endian samples)
    -> PNG bytes (stdlib zlib, filter None, one IDAT): deterministic
    across environments — the test/fixture and re-encode counterpart
    of :func:`parse_png`, same role encode_netpbm plays for the raw
    formats. c=1 gray, 2 gray+alpha, 3 RGB, 4 RGBA.
    ``interlace=True`` writes the Adam7 layout (per-pass sub-rasters in
    §8.2 pass order, filter None rows) — the round-trip counterpart of
    the parser's interlaced path. ``bit_depth`` of 1/2/4 packs a
    single-channel image of RAW levels (values must be < 2^depth) into
    sub-byte scanlines, MSB-first with byte-padded rows — the fixture
    generator for the parser's packed-pixel path; the decoder scales
    levels x(255/(2^d-1)) to the uniform uint8 handle."""
    import zlib

    arr = np.asarray(arr)
    # detect 16-bit input by KIND+WIDTH: an explicitly big-endian '>u2'
    # array is a different dtype object than native uint16 and would
    # otherwise silently encode its LOW bytes as 8-bit (review r08)
    depth = 16 if (arr.dtype.kind == "u" and arr.dtype.itemsize == 2) else 8
    arr = arr.astype(">u2") if depth == 16 else arr.astype(np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if ctype is None:
        raise ValueError(f"png encodes 1-4 channels, got {c}")
    if bit_depth is not None:
        if bit_depth not in (1, 2, 4):
            raise ValueError(f"png: bit_depth must be 1, 2 or 4, got {bit_depth}")
        if c != 1 or depth == 16:
            raise ValueError("png: sub-byte bit_depth requires one uint8 channel")
        if int(arr.max(initial=0)) >= (1 << bit_depth):
            raise ValueError(
                f"png: bit_depth={bit_depth} requires raw levels < "
                f"{1 << bit_depth}"
            )

        def pack_rows(sub: np.ndarray) -> np.ndarray:
            """(rows, width) levels -> (rows, ceil(width*d/8)) bytes."""
            rows, width = sub.shape
            bits = (
                (sub[:, :, None] >> np.arange(bit_depth - 1, -1, -1)) & 1
            ).reshape(rows, width * bit_depth).astype(np.uint8)
            return np.packbits(bits, axis=1)  # pads rows to byte boundary

        ihdr = (
            w.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes([bit_depth, 0, 0, 0, int(bool(interlace))])
        )

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                len(data).to_bytes(4, "big")
                + typ
                + data
                + zlib.crc32(typ + data).to_bytes(4, "big")
            )

        lvls = arr[:, :, 0]
        if interlace:
            parts = []
            for x0, y0, dx, dy, pw, ph in _adam7_dims(w, h):
                packed = pack_rows(lvls[y0::dy, x0::dx])
                parts.append(
                    np.concatenate(
                        [np.zeros((ph, 1), dtype=np.uint8), packed], axis=1
                    ).tobytes()
                )
            raster = b"".join(parts)
        else:
            packed = pack_rows(lvls)
            raster = np.concatenate(
                [np.zeros((h, 1), dtype=np.uint8), packed], axis=1
            ).tobytes()
        return (
            _PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raster, 6))
            + chunk(b"IEND", b"")
        )

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, int(bool(interlace))])
    )
    bpp = c * (depth // 8)
    pixels = arr.reshape(h, -1).view(np.uint8).reshape(h, w, bpp)  # BE bytes
    if interlace:
        parts = []
        for x0, y0, dx, dy, pw, ph in _adam7_dims(w, h):
            sub = pixels[y0::dy, x0::dx, :].reshape(ph, pw * bpp)
            parts.append(
                np.concatenate(
                    [np.zeros((ph, 1), dtype=np.uint8), sub], axis=1
                ).tobytes()
            )
        raster = b"".join(parts)
    else:
        lines = pixels.reshape(h, -1)
        raster = np.concatenate(
            [np.zeros((h, 1), dtype=np.uint8), lines], axis=1
        ).tobytes()
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster, 6))
        + chunk(b"IEND", b"")
    )


# Backends resolved ONCE at import: a failed `import PIL` is not
# cached by Python, so retrying it per payload costs a sys.path scan
# per image (~10x the netpbm decode itself for small payloads).
try:
    import PIL.Image as _PIL_IMAGE  # noqa: N812
except ImportError:
    _PIL_IMAGE = None

try:
    import av as _AV
except ImportError:
    _AV = None


def open_image(b: bytes) -> ImageHandle:
    """Real decode with backend fallback: Pillow when installed (any
    format it knows), else the numpy netpbm codec. A netpbm payload
    that a given Pillow release refuses (ppm plugin strictness varies)
    still falls back to the numpy codec, so installing Pillow never
    breaks payloads that decoded without it.

    The error contract is backend-independent: a payload NO installed
    backend recognizes raises ``NotImplementedError`` (the documented
    codec boundary — Pillow's ``UnidentifiedImageError`` is wrapped,
    never surfaced); a malformed payload of a recognized format, and
    samples deeper than 8 bits, raise ``ValueError``."""
    if _PIL_IMAGE is not None:
        try:
            im = _PIL_IMAGE.open(io.BytesIO(b))
            im.load()
        except Exception as exc:
            # may still be a flavor this Pillow refuses; a malformed-
            # netpbm/png ValueError propagates from the numpy codecs
            pbm = parse_netpbm(b)
            if pbm is not None:
                return pbm
            png = parse_png(b)
            if png is not None:
                return png
            jpg = _parse_jpeg(b)
            if jpg is not None:
                return jpg
            raise NotImplementedError(
                f"no installed backend decodes this image payload: {exc}"
            ) from exc
        if im.mode in ("I", "F") or im.mode.startswith("I;16"):
            # same precision policy as the netpbm maxval=255 check:
            # refuse >8-bit samples instead of silently squashing them
            raise ValueError(
                f"only 8-bit samples supported, got Pillow mode {im.mode}"
            )
        if im.mode not in ("L", "LA", "RGB", "RGBA"):
            # LA passes through as 2 channels: parse_png decodes
            # gray+alpha PNGs (color type 4) to (h, w, 2), and the
            # n_channels/resize/embed outputs must be backend-
            # independent — converting to RGB here would make the same
            # payload report 3 channels only when Pillow is installed
            # (ADVICE r06)
            im = im.convert("RGB")
        return ImageHandle(np.asarray(im), prefer_png=True)
    im = parse_netpbm(b)
    if im is None:
        im = parse_png(b)
    if im is None:
        im = _parse_jpeg(b)
    if im is None:
        raise NotImplementedError(
            "payload is not netpbm (P5/P6), baseline PNG, or baseline "
            "JPEG and no media library is installed: other formats need "
            "Pillow (pip install pillow)"
        )
    return im


def _parse_jpeg(b: bytes):
    # lazy import: the JPEG tables/codec load only when a SOI payload
    # actually arrives (codecs_jpeg.py documents the supported profile)
    if len(b) < 2 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    from ripple_server_spark.codecs_jpeg import parse_jpeg

    return parse_jpeg(b)


class VideoHandle:
    """Uniform decoded-video handle over the y4m and PyAV backends.

    ``frame(i)`` decodes on demand via per-frame thunks — the y4m
    backend slices the source buffer lazily, so sampling k of N frames
    reads only k rasters. Frames normalize to :class:`ImageHandle`
    (uint8 ``(h, w, c)``), keeping every downstream kernel
    backend-agnostic, same contract as images.
    """

    def __init__(
        self,
        width: int,
        height: int,
        fps_num: int,
        fps_den: int,
        frame_fns: list,
    ):
        self.width = width
        self.height = height
        self.fps_num = fps_num
        self.fps_den = fps_den
        self._frame_fns = frame_fns

    @property
    def n_frames(self) -> int:
        return len(self._frame_fns)

    def frame(self, i: int) -> ImageHandle:
        return ImageHandle(self._frame_fns[i]())

    def ts_ms(self, i: int) -> int:
        """Presentation timestamp of frame ``i`` in integer
        milliseconds (frame i displays at i * den / num seconds)."""
        return int(round(i * 1000 * self.fps_den / self.fps_num))


_Y4M_CHROMA_DIVS = {
    # colorspace tag -> (x_div, y_div) of each chroma plane; the three
    # C420 siting variants differ only in chroma sample POSITION, not
    # raster layout, so they parse identically
    "420": (2, 2),
    "420jpeg": (2, 2),
    "420mpeg2": (2, 2),
    "420paldv": (2, 2),
    "422": (2, 1),
    "444": (1, 1),
}


def parse_y4m(b: bytes) -> VideoHandle | None:
    """Decode YUV4MPEG2 bytes -> VideoHandle; None when the magic says
    this is not y4m (callers fall through to their not-decodable
    boundary); ValueError on malformed/truncated/unsupported y4m.

    Only the luma plane is surfaced (frames decode as single-channel
    grayscale ImageHandles): chroma planes are validated and skipped —
    model-free frame features need luma, and a BT.601 color-convert
    belongs in a model-preprocessing stage, not the codec. 8-bit
    colorspaces only (C420*/C422/C444/Cmono), matching the image
    codecs' precision policy.
    """
    if not b.startswith(b"YUV4MPEG2"):
        return None
    # a glued header like b"YUV4MPEG2W16..." means a dropped byte —
    # refuse rather than mis-parse parameters
    if len(b) > 9 and b[9:10] not in (b" ", b"\n"):
        raise ValueError("y4m: magic not followed by a parameter separator")
    nl = b.find(b"\n")
    if nl < 0:
        raise ValueError("y4m: unterminated stream header")
    w = h = None
    num, den = 25, 1  # spec default when F is absent (lenient, like ffmpeg)
    chroma = "420jpeg"  # the spec's default colorspace
    for tok in b[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        try:
            if tag == b"W":
                w = int(val)
            elif tag == b"H":
                h = int(val)
            elif tag == b"F":
                num_s, _, den_s = val.partition(b":")
                num, den = int(num_s), int(den_s or b"1")
            elif tag == b"C":
                chroma = val.decode("ascii")
            # I (interlacing), A (aspect), X (extension) don't affect
            # raster layout — accepted and ignored
        except (ValueError, UnicodeDecodeError):
            raise ValueError(f"y4m: malformed header parameter {tok!r}") from None
    if w is None or h is None or w <= 0 or h <= 0:
        raise ValueError(f"y4m: bad dimensions {w}x{h}")
    if num <= 0 or den <= 0:
        raise ValueError(f"y4m: bad frame rate {num}:{den}")
    y_size = w * h
    if chroma == "mono":
        c_size = 0
    elif chroma in _Y4M_CHROMA_DIVS:
        xd, yd = _Y4M_CHROMA_DIVS[chroma]
        if w % xd or h % yd:
            raise ValueError(
                f"y4m: C{chroma} requires dimensions divisible by {xd}x{yd}, got {w}x{h}"
            )
        c_size = 2 * (w // xd) * (h // yd)
    else:
        raise ValueError(
            f"y4m: unsupported colorspace C{chroma} (8-bit 420/422/444/mono only)"
        )
    frame_size = y_size + c_size

    pos = nl + 1
    offsets: list[int] = []
    while pos < len(b):
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError(f"y4m: expected FRAME marker at byte {pos}")
        fnl = b.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        if fnl > pos + 5 and b[pos + 5 : pos + 6] != b" ":
            raise ValueError("y4m: FRAME marker not followed by a separator")
        raster = fnl + 1
        if raster + frame_size > len(b):
            raise ValueError(
                f"y4m: truncated frame raster at frame {len(offsets)} "
                f"({len(b) - raster} < {frame_size} bytes)"
            )
        offsets.append(raster)
        pos = raster + frame_size
    if not offsets:
        raise ValueError("y4m: stream has no frames")

    def luma_at(off: int):
        # lazy: one numpy view per SAMPLED frame, never the whole stream
        return lambda: np.frombuffer(
            b, dtype=np.uint8, count=y_size, offset=off
        ).reshape(h, w)

    return VideoHandle(w, h, num, den, [luma_at(o) for o in offsets])


def encode_y4m(
    frames: list[np.ndarray], fps: tuple[int, int] = (25, 1)
) -> bytes:
    """Grayscale ``(h, w)``/``(h, w, 1)`` uint8 frames -> Cmono
    YUV4MPEG2 bytes per the public spec — always losslessly
    re-decodable by :func:`parse_y4m` (test/fixture counterpart of the
    parser, same role encode_netpbm plays for images)."""
    if not frames:
        raise ValueError("y4m: need at least one frame")
    arrs = []
    for fr in frames:
        a = np.asarray(fr, dtype=np.uint8)
        if a.ndim == 3:
            if a.shape[2] != 1:
                raise ValueError(f"y4m: Cmono encodes 1 channel, got {a.shape[2]}")
            a = a[:, :, 0]
        if a.ndim != 2 or a.shape != np.asarray(frames[0]).shape[:2]:
            raise ValueError("y4m: frames must share one (h, w) shape")
        arrs.append(a)
    h, w = arrs[0].shape
    head = b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 Cmono\n" % (w, h, fps[0], fps[1])
    return head + b"".join(b"FRAME\n" + a.tobytes() for a in arrs)


def _open_video_av(b: bytes) -> VideoHandle:
    """Compressed-container decode via PyAV (the ffmpeg bindings).
    Never executes in this container (no PyAV); kept to the image
    path's Pillow shape: preferred when installed, failures wrapped in
    the unified boundary. Frames buffer decoded (PyAV streams don't
    seek in BytesIO reliably) — a production deployment seeks
    keyframes instead; the y4m backend is the lazy path."""
    try:
        frames: list[np.ndarray] = []
        num, den = 25, 1
        with _AV.open(io.BytesIO(b)) as container:
            stream = container.streams.video[0]
            if stream.average_rate:
                num = stream.average_rate.numerator
                den = stream.average_rate.denominator
            for fr in container.decode(stream):
                frames.append(np.ascontiguousarray(fr.to_ndarray(format="rgb24")))
    except Exception as exc:
        raise NotImplementedError(
            f"no installed backend decodes this video payload: {exc}"
        ) from exc
    if not frames:
        raise ValueError("video stream contains no frames")
    h, w = frames[0].shape[:2]
    return VideoHandle(w, h, num, den, [(lambda a=a: a) for a in frames])


def open_video(b: bytes) -> VideoHandle:
    """Real video decode with backend fallback: the numpy YUV4MPEG2
    parser for y4m payloads (any environment), PyAV for every
    compressed container when installed. Same error contract as
    :func:`open_image`: unrecognized payload -> ``NotImplementedError``
    (the documented codec boundary), malformed/unsupported y4m ->
    ``ValueError``."""
    vid = parse_y4m(b)
    if vid is not None:
        return vid
    if _AV is not None:
        return _open_video_av(b)
    raise NotImplementedError(
        "payload is not YUV4MPEG2 and no video library is installed: "
        "compressed containers need PyAV/ffmpeg (pip install av)"
    )


class AudioHandle:
    """Uniform decoded-audio handle (the audio analog of ImageHandle).

    ``data`` is (n_samples, n_channels) int32 holding the RAW PCM
    sample values: 16-bit PCM as-is (-32768..32767), 8-bit PCM
    center-shifted to -128..127 (WAV stores 8-bit unsigned; shifting
    makes silence 0 across widths). Keeping integers — not normalized
    floats — makes energy/fingerprint arithmetic EXACT and therefore
    cross-engine oracle-checkable; kernels that want [-1, 1] divide by
    ``full_scale`` themselves."""

    def __init__(self, data: np.ndarray, rate: int, sample_width: int):
        if data.ndim == 1:
            data = data[:, None]
        self.data = np.ascontiguousarray(data, dtype=np.int32)
        self.rate = int(rate)
        self.sample_width = int(sample_width)  # bytes per sample (1/2/3/4)

    @property
    def n_samples(self) -> int:
        return self.data.shape[0]

    @property
    def channels(self) -> int:
        return self.data.shape[1]

    @property
    def full_scale(self) -> int:
        return {1: 128, 2: 32768, 3: 1 << 23, 4: 1 << 31}[self.sample_width]

    def clip(self, n_samples: int) -> "AudioHandle":
        """First-N-samples trim (deterministic, allocation bounded by
        the TARGET length — the audio thumbnailing analog)."""
        return AudioHandle(self.data[:n_samples], self.rate, self.sample_width)

    def to_bytes(self) -> bytes:
        return encode_wav(self.data, self.rate, self.sample_width)


def encode_wav(data: np.ndarray, rate: int, sample_width: int = 2) -> bytes:
    """(n, ch) int PCM samples -> RIFF/WAVE bytes (format 1 = PCM,
    8/16/24/32-bit little-endian) — deterministic, stdlib-only; the
    test/fixture counterpart of :func:`parse_wav` (encode_netpbm's role
    for images). 8-bit input is center-shifted ints (-128..127),
    written unsigned per the WAV spec; 24-bit packs the low three
    little-endian bytes of each signed sample."""
    data = np.asarray(data)
    if data.ndim == 1:
        data = data[:, None]
    n, ch = data.shape
    if sample_width == 2:
        frames = data.astype("<i2").tobytes()
    elif sample_width == 1:
        frames = (data.astype(np.int64) + 128).astype(np.uint8).tobytes()
    elif sample_width == 3:
        v = data.astype(np.int64) & 0xFFFFFF  # two's-complement 24-bit
        frames = (
            np.stack([v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF], axis=-1)
            .astype(np.uint8)
            .tobytes()
        )
    elif sample_width == 4:
        frames = data.astype("<i4").tobytes()
    else:
        raise ValueError(
            f"wav: sample_width must be 1-4 bytes, got {sample_width}"
        )
    bits = sample_width * 8
    block = ch * sample_width
    fmt = (
        (1).to_bytes(2, "little")
        + ch.to_bytes(2, "little")
        + int(rate).to_bytes(4, "little")
        + (int(rate) * block).to_bytes(4, "little")
        + block.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    body = b"WAVE"
    body += b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(frames).to_bytes(4, "little") + frames
    if len(frames) % 2:
        body += b"\x00"  # chunk pad byte per RIFF
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def parse_wav(b: bytes) -> AudioHandle | None:
    """Decode RIFF/WAVE bytes -> AudioHandle with numpy alone; None
    when the magic says this is not WAV; ValueError on malformed,
    truncated, or out-of-profile streams (the uniform codec contract).

    Profile (round 10 widened): uncompressed PCM (format 1) at
    8-bit unsigned / 16-bit / 24-bit / 32-bit signed little-endian,
    IEEE float (format 3, 32/64-bit — scaled to 16-bit integer range,
    the libsndfile float->PCM16 convention, so downstream fingerprint
    math stays exact), and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrapping
    either (SubFormat GUID selects), any channel count/rate. Out of
    profile (rejected with ValueError): A-law/mu-law (6/7), ADPCM —
    compressed audio (mp3/aac/ogg) is not RIFF and falls to the
    open_audio boundary."""
    if len(b) < 12 or b[:4] != b"RIFF":
        return None
    if b[8:12] != b"WAVE":
        raise ValueError("wav: RIFF payload is not WAVE")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        ln = int.from_bytes(b[pos + 4 : pos + 8], "little")
        chunk = b[pos + 8 : pos + 8 + ln]
        if len(chunk) < ln:
            raise ValueError(f"wav: truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            data = chunk
        pos += 8 + ln + (ln % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if tag == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE: the real format tag is the first two
        # bytes of the 16-byte SubFormat GUID (fmt offset 24) — the
        # standard container every tool uses for >16-bit audio
        if len(fmt) < 40:
            raise ValueError("wav: truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
        tag = int.from_bytes(fmt[24:26], "little")
    if tag not in (1, 3):
        raise ValueError(
            f"wav: only PCM (1) and IEEE float (3) supported, got format {tag}"
        )
    if ch < 1 or rate < 1:
        raise ValueError(f"wav: bad fmt (channels={ch}, rate={rate})")
    if tag == 3:
        # IEEE float: scale to 16-bit integer range (the libsndfile
        # float->PCM16 convention) so AudioHandle stays exact-integer
        if bits not in (32, 64):
            raise ValueError(f"wav: IEEE float must be 32/64-bit, got {bits}")
        step = bits // 8
        n = (len(data) // (step * ch)) * step * ch
        f = np.frombuffer(data[:n], dtype="<f4" if bits == 32 else "<f8")
        # scale in float64 so rounding is width-independent and
        # deterministic (f4 arithmetic would tie-break differently)
        samples = (
            np.rint(np.clip(f.astype(np.float64), -1.0, 1.0) * 32767.0)
            .astype(np.int32)
            .reshape(-1, ch)
        )
        return AudioHandle(samples, rate, 2)
    if bits == 16:
        width = 2
        arr = np.frombuffer(data[: (len(data) // (2 * ch)) * 2 * ch], dtype="<i2")
        samples = arr.astype(np.int32).reshape(-1, ch)
    elif bits == 8:
        width = 1
        arr = np.frombuffer(data[: (len(data) // ch) * ch], dtype=np.uint8)
        samples = (arr.astype(np.int32) - 128).reshape(-1, ch)
    elif bits == 24:
        width = 3
        n = (len(data) // (3 * ch)) * 3 * ch
        raw = np.frombuffer(data[:n], dtype=np.uint8).reshape(-1, 3).astype(np.int32)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        v -= (v & 0x800000) << 1  # sign-extend bit 23
        samples = v.reshape(-1, ch)
    elif bits == 32:
        width = 4
        n = (len(data) // (4 * ch)) * 4 * ch
        arr = np.frombuffer(data[:n], dtype="<i4")
        samples = arr.reshape(-1, ch)
    else:
        raise ValueError(f"wav: only 8/16/24/32-bit PCM supported, got {bits}-bit")
    return AudioHandle(samples, rate, width)


def open_audio(b: bytes) -> AudioHandle:
    """Real audio decode with the same boundary contract as
    :func:`open_image` / :func:`open_video`: WAV PCM and FLAC (round
    10, codecs_flac.py — the lossless compressed format corpora
    actually carry) decode in any environment via the numpy parsers;
    payloads no backend recognizes (mp3/aac/ogg need a perceptual-
    codec library this container does not ship) raise
    ``NotImplementedError``; malformed/out-of-profile streams raise
    ``ValueError``."""
    audio = parse_wav(b)
    if audio is not None:
        return audio
    from ripple_server_spark.codecs_flac import parse_flac

    audio = parse_flac(b)
    if audio is not None:
        return audio
    raise NotImplementedError(
        "payload is not RIFF/WAVE PCM or FLAC and no audio library is "
        "installed: perceptual codecs (mp3/aac/ogg) need an external backend"
    )
