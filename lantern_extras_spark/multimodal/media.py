"""Image columns: fetched or scanned bytes → decoded pixels → CLIP features.

Reference analog: `image_embedding` (X3/U6, ort_runtime.rs:608-664,843-906) —
fetch bytes, preprocess 224², CLIP-normalize, embed; failures map to a
`[-1.0]*dims` sentinel vector, NOT null (ort_runtime.rs:956-960).

Every image format decodes in-repo with numpy and the stdlib only, no codec
library:
- PPM/PGM (P6/P5/P3) and uncompressed BMP (24/32-bit BI_RGB);
- PNG (`decode_png`): chunk parse → zlib inflate → all five scanline
  unfilters → palette/gray/alpha handling;
- JPEG (`decode_jpeg`): baseline and progressive — Huffman, dequant, IDCT,
  YCbCr; SOF0/SOF1/SOF2, gray + 4:4:4/4:2:2/4:2:0, restart markers,
  spectral selection + successive approximation; arithmetic/lossless raise
  ValueError;
- GIF (`decode_gif`): LZW, interlace, local/global color tables, frame
  composition;
- TIFF (`decode_tiff`): uncompressed, PackBits and LZW strips;
- WebP lossless (`decode_webp` → `vp8l_decode`). Lossy WebP (VP8) raises
  ValueError.

`decode_image_features(..., decoder="numpy")` runs the full bytes → pixels →
Catmull-Rom 224² CLIP preprocess → pooled feature path; `decoder="fake"` is a
deterministic hash-derived feature for pipeline tests that want
format-independent values. Rows that fail to decode map to the per-row
sentinel (U6). `image_phash` hashes the same decoded pixels for near-dup
dedup.

Scale notes: binary payloads ride the scan (parquet/binaryFile); feature
extraction is `mapInPandas` so each Arrow batch holds only `batch_rows` images
in memory — set `spark.sql.execution.arrow.maxRecordsPerBatch` to bound
executor memory at large image sizes (the Spark version of the reference's
20 MB/row cap, ort_runtime.rs:159).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

# (id, media binary, media_type, metadata) — the engine's canonical multimodal shape
MEDIA_SCHEMA = (
    "media_id long, media binary, media_type string, "
    "width int, height int, duration_ms int"
)

SENTINEL_VALUE = -1.0  # failure sentinel, reference ort_runtime.rs:956-960

# Reference fetch policy (ort_runtime.rs:843-906,925-997): 15 s per request,
# at most 2 redirects, 20 MB payload cap, parallel fetch; failures map to the
# sentinel downstream, never break row alignment.
FETCH_TIMEOUT_S = 15.0
FETCH_MAX_REDIRECTS = 2
FETCH_MAX_BYTES = 20 * 1024 * 1024


def urllib_transport(url: str, timeout_s: float, max_bytes: int = FETCH_MAX_BYTES):
    """Stdlib transport for real clusters (tested against a loopback HTTP
    server — tests/test_multimodal.py). Redirects are NOT auto-followed: a 3xx
    returns its Location so `fetch_bytes` enforces the reference's 2-redirect
    cap itself; the body read is capped at `max_bytes`+1 (the caller's cap, not
    the module constant) so the fetcher's size check fires without buffering
    unbounded payloads AND without silently truncating when a caller raises
    the cap. Only http(s) URLs are opened: the default urllib opener would
    otherwise honor file:// / ftp:// / data: from a hostile URL column and
    read local executor files into the dataset — rejected up front, and
    re-checked on every redirect hop since each hop re-enters the transport."""
    import socket
    import urllib.error
    import urllib.parse
    import urllib.request

    scheme = urllib.parse.urlsplit(url).scheme.lower()
    if scheme not in ("http", "https"):
        raise ValueError(f"unsupported URL scheme {scheme!r} (http/https only)")

    class _NoRedirect(urllib.request.HTTPRedirectHandler):
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            return None

    opener = urllib.request.build_opener(_NoRedirect)
    try:
        with opener.open(url, timeout=timeout_s) as resp:
            return resp.status, resp.read(max_bytes + 1), None
    except urllib.error.HTTPError as e:
        if e.code in (301, 302, 303, 307, 308):
            return e.code, None, e.headers.get("Location")
        return e.code, None, None
    except socket.timeout as e:
        raise TimeoutError(str(e)) from e


def _no_network_transport(url: str, timeout_s: float):
    raise NotImplementedError(
        "No network transport configured for fetch_media (STUB in this "
        "environment). Inject transport=(url, timeout_s) -> (status, body, "
        "redirect_url) — the same injection pattern the OpenAI runtime uses."
    )


def fetch_bytes(
    url: str,
    transport=None,
    timeout_s: float = FETCH_TIMEOUT_S,
    max_redirects: int = FETCH_MAX_REDIRECTS,
    max_bytes: int = FETCH_MAX_BYTES,
) -> tuple[bytes | None, str | None]:
    """Fetch one URL through an injected transport, enforcing the reference's
    caps: `timeout_s` per request (transport raises TimeoutError), at most
    `max_redirects` follows, payloads over `max_bytes` rejected. Returns
    (data, error) — exactly one is non-None.

    `transport(url, timeout_s[, max_bytes]) -> (status:int, body:bytes|None,
    redirect_url:str|None)`; a non-None redirect_url is followed regardless of
    status, mirroring HTTP 3xx handling. Transports that accept a third
    parameter receive the caller's `max_bytes` so their read cap matches the
    size check here (two-arg transports are still supported).
    """
    transport = transport or _no_network_transport
    import inspect

    try:
        three_arg = len(inspect.signature(transport).parameters) >= 3
    except (TypeError, ValueError):
        three_arg = False
    cur, hops = url, 0
    while True:
        try:
            status, body, redirect = (
                transport(cur, timeout_s, max_bytes) if three_arg else transport(cur, timeout_s)
            )
        except TimeoutError:
            return None, f"timeout after {timeout_s}s"
        except NotImplementedError:
            raise
        except Exception as e:  # noqa: BLE001 — any transport failure → row error
            return None, f"fetch error: {e}"
        if redirect is not None:
            hops += 1
            if hops > max_redirects:
                return None, f"too many redirects (> {max_redirects})"
            cur = redirect
            continue
        if status != 200:
            return None, f"http {status}"
        if body is None or len(body) == 0:
            return None, "empty body"
        if len(body) > max_bytes:
            return None, f"payload {len(body)} bytes > cap {max_bytes}"
        return bytes(body), None


def fetch_media(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "media",
    err_col: str = "fetch_error",
    transport=None,
    timeout_s: float = FETCH_TIMEOUT_S,
    max_redirects: int = FETCH_MAX_REDIRECTS,
    max_bytes: int = FETCH_MAX_BYTES,
    parallelism: int = 8,
) -> DataFrame:
    """Parallel URL fetch: adds (`out_col` binary, `err_col` string) columns.
    Each Arrow batch fans its URLs across a `parallelism`-wide thread pool
    (I/O-bound; threads release the GIL), so per-executor concurrency is
    partitions × parallelism — the Spark shape of the reference's parallel
    image download (ort_runtime.rs:843-906). A failed fetch yields a null
    payload + error string; `decode_image_features` then maps null media to
    the `[-1.0]*dim` sentinel, so row alignment survives end to end (U6).

    `transport` must be picklable (module-level function or functools.partial
    over plain data) — it ships to executors."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import BinaryType, StringType

    fields = df.schema.fields + [
        StructField(out_col, BinaryType()),
        StructField(err_col, StringType()),
    ]
    out_schema = StructType(fields)
    cols = [f.name for f in df.schema.fields]

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            for pdf in batches:
                def one(u):
                    if u is None:
                        return None, "null url"
                    return fetch_bytes(u, transport, timeout_s, max_redirects, max_bytes)
                results = list(pool.map(one, pdf[url_col]))
                pdf[out_col] = [r[0] for r in results]
                pdf[err_col] = [r[1] for r in results]
                yield pdf[cols + [out_col, err_col]]

    return df.mapInPandas(fetch_batches, out_schema)


# CLIP dataset normalization constants (reference ort_runtime.rs:612-613)
CLIP_MEAN = (0.48145466, 0.4578275, 0.40821073)
CLIP_STD = (0.26862954, 0.26130258, 0.27577711)
CLIP_VISION_SIZE = 224  # reference default vision_size (ort_runtime.rs:615)


def _catmull_rom(x):
    """Catmull-Rom cubic kernel (the Mitchell-Netravali family at B=0, C=0.5 —
    the reference resizes with FilterType::CatmullRom, ort_runtime.rs:628-632):
    1.5|x|³−2.5|x|²+1 on |x|<1, −0.5|x|³+2.5|x|²−4|x|+2 on 1≤|x|<2, else 0."""
    import numpy as np

    a = np.abs(np.asarray(x, dtype=np.float64))
    return np.where(
        a < 1.0,
        1.5 * a**3 - 2.5 * a**2 + 1.0,
        np.where(a < 2.0, -0.5 * a**3 + 2.5 * a**2 - 4.0 * a + 2.0, 0.0),
    )


def _resample_weights(n_src: int, n_dst: int, support: float = 2.0):
    """(n_dst × n_src) row-normalized resampling matrix, matching the standard
    separable algorithm the image crate uses: center = (out+0.5)·ratio, window
    ±support·max(ratio,1), weight k((i+0.5−center)/max(ratio,1))."""
    import numpy as np

    ratio = n_src / n_dst
    sratio = max(ratio, 1.0)
    sup = support * sratio
    W = np.zeros((n_dst, n_src), dtype=np.float64)
    for o in range(n_dst):
        center = (o + 0.5) * ratio
        left = max(int(np.floor(center - sup)), 0)
        right = min(int(np.ceil(center + sup)), n_src - 1)
        i = np.arange(left, right + 1)
        w = _catmull_rom((i + 0.5 - center) / sratio)
        s = w.sum()
        if s != 0.0:
            W[o, left : right + 1] = w / s
    return W


def resize_catmull_rom(img, out_h: int, out_w: int):
    """(H, W, C) → (out_h, out_w, C) float64 via separable Catmull-Rom
    resampling (one float pass, like the image crate's f32 intermediate —
    rounding back to u8 happens once, in `clip_preprocess`)."""
    import numpy as np

    x = np.asarray(img, dtype=np.float64)
    if x.ndim != 3:
        raise ValueError(f"expected (H, W, C) image array, got shape {x.shape}")
    Wh = _resample_weights(x.shape[0], out_h)
    Ww = _resample_weights(x.shape[1], out_w)
    y = np.einsum("oh,hwc->owc", Wh, x)
    return np.einsum("pw,owc->opc", Ww, y)


def clip_preprocess(img, vision_size: int = CLIP_VISION_SIZE):
    """One decoded RGB image (H, W, 3 uint8) → the CLIP input tensor slot,
    bit-matching the reference's process_image_clip (ort_runtime.rs:608-645):

    1. resize_exact to vision_size² with Catmull-Rom (u8 in, u8 out — so the
       filtered floats round back to u8 BEFORE normalization; reproduced with
       a clamp+rint),
    2. per-channel (px/255 − CLIP_MEAN)/CLIP_STD,
    3. layout: the reference writes pixels[[n, c, x, y]] where x is the
       COLUMN (image crate pixels() yields (x, y, px)) — i.e. its tensor axes
       are (C, W, H), not (C, H, W). Reproduced exactly; square inputs make
       the shapes identical, the data transposed.

    Returns (3, vision_size, vision_size) float32. This is the entire
    preprocessing stage; `decode_image_bytes` supplies the pixel array."""
    import numpy as np

    arr = np.asarray(img)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (H, W, 3) RGB array, got shape {arr.shape}")
    resized = resize_catmull_rom(arr, vision_size, vision_size)
    u8 = np.clip(np.rint(resized), 0.0, 255.0)
    mean = np.asarray(CLIP_MEAN, dtype=np.float64)
    std = np.asarray(CLIP_STD, dtype=np.float64)
    norm = (u8 / 255.0 - mean) / std  # (H, W, 3)
    return np.transpose(norm, (2, 1, 0)).astype(np.float32)  # (C, W, H)


def clip_pixel_batch(images, vision_size: int = CLIP_VISION_SIZE):
    """List of decoded RGB arrays (or None) → (N, 3, size, size) float32 batch.
    A None slot stays all-zeros — the reference pre-fills Array4::zeros and
    only writes decoded pixels (ort_runtime.rs:618-624)."""
    import numpy as np

    out = np.zeros((len(images), 3, vision_size, vision_size), dtype=np.float32)
    for i, img in enumerate(images):
        if img is not None:
            out[i] = clip_preprocess(img, vision_size)
    return out


def decode_ppm(data: bytes):
    """Decode PPM/PGM bytes (P6 binary RGB, P5 binary gray, P3 ascii RGB —
    maxval ≤ 255) into an (H, W, 3) uint8 array with pure numpy/stdlib.
    Grayscale is replicated across the 3 channels so every decoded image
    feeds `clip_preprocess` directly. Raises ValueError on malformed input."""
    import numpy as np

    if len(data) < 2 or data[:1] != b"P" or data[1:2] not in b"356":
        raise ValueError("not a P3/P5/P6 netpbm payload")
    magic = data[:2].decode()

    # header tokenizer: whitespace-separated ints, '#' comments to end-of-line
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        if pos >= len(data):
            raise ValueError("truncated netpbm header")
        c = data[pos:pos + 1]
        if c == b"#":
            nl = data.find(b"\n", pos)
            pos = len(data) if nl < 0 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(data) and not data[end:end + 1].isspace() and data[end:end + 1] != b"#":
                end += 1
            tokens.append(int(data[pos:end]))
            pos = end
    width, height, maxval = tokens
    if width <= 0 or height <= 0:
        raise ValueError(f"bad netpbm dimensions {width}x{height}")
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported netpbm maxval {maxval} (expect 1..255)")

    if magic == "P3":
        vals = np.array(data[pos:].split(), dtype=np.int64)
        if vals.size < width * height * 3:
            raise ValueError("truncated P3 pixel data")
        px = vals[: width * height * 3]
    else:
        pos += 1  # exactly one whitespace byte separates header from raster
        nch = 3 if magic == "P6" else 1
        need = width * height * nch
        raster = data[pos:pos + need]
        if len(raster) < need:
            raise ValueError("truncated netpbm raster")
        px = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
    if px.max(initial=0) > maxval:
        raise ValueError("netpbm sample exceeds declared maxval")
    if maxval != 255:
        px = px * 255 // maxval
    if magic == "P5":
        img = px.reshape(height, width, 1).repeat(3, axis=2)
    else:
        img = px.reshape(height, width, 3)
    return img.astype(np.uint8)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW (Compression 5): MSB-first bit packing, 9→12-bit
    codes, Clear=256 / EOI=257, and the spec's EARLY CHANGE — the code
    width bumps one code earlier than generic LZW (when the next free slot
    reaches 2^width - 1, TIFF 6.0 §13), the off-by-one every reader must
    reproduce. Differs from `_gif_lzw_decode` in bit order, alphabet
    offset, and the early bump, so it's its own kernel."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = pos = 0
    width = 9

    def read_code() -> int | None:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return None
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        return code

    # SLOT-COUNTER sync (same scheme `_gif_lzw_decode` documents): next_code
    # advances on every data code READ — reserving the slot whose content
    # becomes known one read later — so the counter matches the encoder's
    # per-emission counter at every stream position and the early-change
    # width boundary lands on the same code for both sides. The latest
    # reserved-but-unfilled slot (next_code - 1) is exactly the KwKwK case.
    table: dict[int, bytes] = {}
    next_code = 258
    prev: bytes | None = None
    while len(out) < expected:
        code = read_code()
        if code is None or code == EOI:
            break
        if code == CLEAR:
            table, width, next_code, prev = {}, 9, 258, None
            continue
        if code < 256:
            entry = bytes([code])
        elif code in table:
            entry = table[code]
        elif code == next_code - 1 and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt TIFF LZW stream (code {code})")
        out += entry
        if prev is not None and next_code - 1 >= 258 and (next_code - 1) not in table:
            table[next_code - 1] = prev + entry[:1]  # fill the reserved slot
        if next_code < 4096:
            next_code += 1
            if next_code >= (1 << width) - 1 and width < 12:  # early change
                width += 1
        prev = entry
    if len(out) < expected:
        raise ValueError(f"TIFF LZW stream ended after {len(out)}/{expected} bytes")
    return bytes(out[:expected])


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """Apple PackBits RLE (the TIFF Compression=32773 codec): n in 0..127 →
    copy n+1 literal bytes; n in -127..-1 → repeat next byte 1-n times;
    -128 is a no-op. Fail-loud on truncation or overrun."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        b = data[i]
        i += 1
        if b < 128:  # literal run
            if i + b + 1 > n:
                raise ValueError("PackBits literal run past end of data")
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:
            if i >= n:
                raise ValueError("PackBits repeat run missing byte")
            out += bytes([data[i]]) * (257 - b)
            i += 1
        # b == 128: no-op
    if len(out) != expected:
        raise ValueError(f"PackBits decoded {len(out)} bytes, expected {expected}")
    return bytes(out)


def decode_tiff(data: bytes):
    """Baseline TIFF decode, pure numpy — the scanned-document corpus format:
    classic header (II/MM byte order), first IFD, strip-organized images,
    Compression 1 (none), 5 (LZW incl. the spec's early-change width bump,
    r11) or 32773 (PackBits), Predictor 2 (horizontal differencing),
    Photometric 0/1 (grayscale, 0 = white-is-zero inverted per spec) or 2
    (RGB), 8 bits per sample. Returns (H, W, 3) uint8 like the other
    decoders. Tiled TIFFs, JPEG-in-TIFF, and non-8-bit depths raise
    ValueError (documented baseline, same stance as arithmetic-coded
    JPEG)."""
    import struct

    import numpy as np

    data = bytes(data)
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise ValueError("TIFF IFD offset past end")
    (n_tags,) = struct.unpack_from(bo + "H", data, ifd_off)
    _SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}

    def tag_values(off: int) -> tuple[int, list[int]]:
        if off + 12 > len(data):
            raise ValueError("TIFF IFD entry past end of payload")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, off)
        if typ not in _SIZES:
            return tag, []
        total = _SIZES[typ] * cnt
        voff = off + 8 if total <= 4 else struct.unpack_from(bo + "I", data, off + 8)[0]
        fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
        if fmt is None:
            return tag, []
        if voff + total > len(data):
            raise ValueError(f"TIFF tag {tag} values past end")
        return tag, list(struct.unpack_from(bo + fmt * cnt, data, voff))

    tags: dict[int, list[int]] = {}
    for k in range(n_tags):
        tag, vals = tag_values(ifd_off + 2 + 12 * k)
        tags[tag] = vals
    try:
        width = tags[256][0]
        height = tags[257][0]
        strip_offsets = tags[273]
        strip_counts = tags[279]
    except (KeyError, IndexError) as e:
        raise ValueError("TIFF missing required tags (dims/strips)") from e
    bits = tags.get(258, [8])
    spp = tags.get(277, [1])[0]
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    rows_per_strip = tags.get(278, [height])[0] or height
    predictor = tags.get(317, [1])[0]
    if any(b != 8 for b in bits):
        raise ValueError(f"unsupported TIFF bit depth {bits}")
    if compression not in (1, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if photometric not in (0, 1, 2) or spp not in (1, 3):
        raise ValueError(
            f"unsupported TIFF photometric {photometric} / samples {spp}"
        )
    if len(strip_offsets) != len(strip_counts):
        raise ValueError("TIFF strip offset/count mismatch")
    raw = bytearray()
    remaining_rows = height
    for si, (soff, scnt) in enumerate(zip(strip_offsets, strip_counts)):
        if soff + scnt > len(data):
            raise ValueError("TIFF strip past end of payload")
        chunk = data[soff : soff + scnt]
        rows = min(rows_per_strip, remaining_rows)
        expected = rows * width * spp
        if compression == 32773:
            chunk = _packbits_decode(chunk, expected)
        elif compression == 5:
            chunk = _tiff_lzw_decode(chunk, expected)
        elif len(chunk) < expected:
            raise ValueError("TIFF uncompressed strip shorter than expected")
        raw += chunk[:expected]
        remaining_rows -= rows
    img = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(height, width, spp)
    if predictor == 2:  # horizontal differencing: undo by row-wise cumsum
        img = (np.cumsum(img.astype(np.int64), axis=1) % 256).astype(np.uint8)
    if photometric == 0:  # white-is-zero
        img = 255 - img
    if spp == 1:
        img = np.repeat(img, 3, axis=2)
    return img


def decode_bmp(data: bytes):
    """Decode uncompressed BMP bytes (BITMAPINFOHEADER-family, BI_RGB,
    24/32-bit) into (H, W, 3) uint8 with pure numpy/stdlib. Handles 4-byte
    row padding, bottom-up (positive height) and top-down (negative height)
    layouts, and drops the alpha byte of 32-bit pixels. Raises ValueError on
    palette/compressed/malformed input."""
    import struct

    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not an uncompressed BMP payload")
    pixel_offset = struct.unpack_from("<I", data, 10)[0]
    header_size = struct.unpack_from("<I", data, 14)[0]
    if header_size < 40:  # BITMAPCOREHEADER not supported
        raise ValueError(f"unsupported BMP header size {header_size}")
    width, height = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if planes != 1 or compression != 0 or bpp not in (24, 32):
        raise ValueError(
            f"unsupported BMP (planes={planes}, bpp={bpp}, compression={compression}); "
            "only uncompressed BI_RGB 24/32-bit is codec-free"
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dimensions {width}x{height}")
    bytes_pp = bpp // 8
    stride = (width * bytes_pp + 3) & ~3  # rows pad to 4-byte boundaries
    need = stride * height
    raster = data[pixel_offset:pixel_offset + need]
    if len(raster) < need:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(raster, dtype=np.uint8).reshape(height, stride)
    px = rows[:, : width * bytes_pp].reshape(height, width, bytes_pp)
    rgb = px[:, :, 2::-1]  # BGR(A) → RGB
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def decode_png(data: bytes):
    """Decode PNG bytes into an (H, W, 3) uint8 array with PURE stdlib
    (zlib is the only codec PNG needs) + numpy — no external image library
    (r8 verdict #5: this un-gates the one compressed format whose codec is
    in every Python). Supports the standard 8-bit non-interlaced forms:
    color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA);
    gray replicates to 3 channels and alpha is dropped (the `decode_bmp`
    convention). All five scanline filters (None/Sub/Up/Average/Paeth) are
    unfiltered exactly per the spec; Sub rides a vectorized per-channel
    cumulative sum, Up a row add, Average/Paeth the sequential per-pixel
    recurrence the spec defines. Raises ValueError on 16-bit, Adam7
    interlace, or malformed input."""
    import struct
    import zlib

    import numpy as np

    SIG = b"\x89PNG\r\n\x1a\n"
    if len(data) < 8 or data[:8] != SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0:
        raise ValueError(f"bad PNG dimensions {width}x{height}")
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (8 only)")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard PNG compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG unsupported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")
    if color == 3 and plte is None:
        raise ValueError("palette PNG without PLTE chunk")

    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    rows = np.frombuffer(raw[: height * (stride + 1)], dtype=np.uint8)
    rows = rows.reshape(height, stride + 1)
    filters = rows[:, 0]
    scan = rows[:, 1:].astype(np.int64)
    bpp = channels  # bytes per pixel at depth 8
    recon = np.zeros((height, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = int(filters[y])
        r = scan[y]
        if f == 0:  # None
            cur = r & 255
        elif f == 1:  # Sub: per-channel cumulative sum mod 256
            cur = np.cumsum(r.reshape(width, bpp), axis=0).reshape(stride) & 255
        elif f == 2:  # Up
            cur = (r + prev) & 255
        elif f == 3:  # Average — recurrence on recon[x-bpp]
            cur = np.empty(stride, dtype=np.int64)
            cur[:bpp] = (r[:bpp] + prev[:bpp] // 2) & 255
            for x in range(bpp, stride):
                cur[x] = (r[x] + (cur[x - bpp] + prev[x]) // 2) & 255
        elif f == 4:  # Paeth — recurrence on recon[x-bpp]
            cur = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (r[x] + pred) & 255
        else:
            raise ValueError(f"unknown PNG scanline filter {f}")
        recon[y] = cur
        prev = cur
    px = recon.astype(np.uint8).reshape(height, width, channels)
    if color == 3:
        idx = px[:, :, 0].astype(np.int64)
        if idx.max(initial=0) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if color in (0, 4):
        return np.ascontiguousarray(px[:, :, 0:1].repeat(3, axis=2))
    return np.ascontiguousarray(px[:, :, :3])


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    import numpy as np

    x, u = np.meshgrid(np.arange(8), np.arange(8))
    T = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    T[0] *= 1.0 / np.sqrt(2.0)
    return T  # orthonormal: pixels = T.T @ coeffs @ T


class _JpegBits:
    """MSB-first bit reader over one de-stuffed entropy segment."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.buf):
                raise ValueError("JPEG entropy data exhausted mid-block")
            self.acc = self.buf[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def receive(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, nbits: int) -> int:
    # T.81 F.2.2.1: magnitude-category decode of a signed coefficient
    if nbits == 0:
        return 0
    return v if v >= (1 << (nbits - 1)) else v - (1 << nbits) + 1


def decode_jpeg(data: bytes):
    """Decode BASELINE JPEG/JFIF bytes into an (H, W, 3) uint8 array with
    pure numpy + stdlib — no codec library (r9 verdict #3: PNG fell via
    stdlib zlib; baseline JFIF needs only Huffman + dequant + IDCT + YCbCr,
    all expressible in numpy). Closes X3's last meaningful env gate (ref
    lantern_cli/src/embeddings/core/ort_runtime.rs:608-664 decodes arbitrary
    images via the `image` crate).

    Supported: SOF0 (and SOF1 — identical decoding at 8-bit), 1-component
    grayscale (replicated to 3 channels, the `decode_bmp` convention) and
    3-component YCbCr with any 1..4 sampling factors (4:4:4 / 4:2:2 / 4:2:0
    ...), restart markers (DRI/RSTn). Chroma upsampling is nearest-neighbor
    (box); YCbCr->RGB is the full-range JFIF matrix. Progressive (SOF2)
    streams route to `_decode_jpeg_progressive` (r11); arithmetic coding,
    12-bit precision, and malformed input raise ValueError.
    Sequential Huffman decode is Python-loop bound — fine for
    fixtures and moderate assets; throughput-critical pipelines can still
    inject a codec via `feature_fn` in `decode_image_features`."""
    import struct

    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_tables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 15
                if prec != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                qt[tid] = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8).astype(
                    np.float64
                )
                b += 65
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            b = 0
            while b < len(body):
                tclass, tid = body[b] >> 4, body[b] & 15
                counts = body[b + 1 : b + 17]
                syms = body[b + 17 : b + 17 + sum(counts)]
                table, code, si = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[si]
                        code += 1
                        si += 1
                    code <<= 1
                huff_tables[(tclass, tid)] = table
                b += 17 + sum(counts)
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 extended seq.
            prec, h, w, ncomp = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec} (8 only)")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker == 0xC2:  # SOF2: progressive — the multi-scan decoder
            return _decode_jpeg_progressive(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (arithmetic/hierarchical/"
                "lossless) — baseline (SOF0/SOF1) and progressive (SOF2) only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan.append({"id": cs, "dc": tt >> 4, "ac": tt & 15})
            pos += 2 + seglen
            break
        # APPn/COM/anything else: skip
        pos += 2 + seglen
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    if len(scan) != len(frame["comps"]):
        raise ValueError("JPEG non-interleaved multi-scan unsupported")

    # de-stuff entropy bytes; split at restart markers
    segments, cur = [], bytearray()
    while pos < len(data):
        byte = data[pos]
        if byte == 0xFF:
            nxt = data[pos + 1] if pos + 1 < len(data) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segments.append(bytes(cur))
                cur = bytearray()
                pos += 2
                continue
            break  # EOI or next marker: scan over
        cur.append(byte)
        pos += 1
    segments.append(bytes(cur))

    h, w = frame["h"], frame["w"]
    if h <= 0 or w <= 0:
        raise ValueError(f"bad JPEG dimensions {w}x{h}")
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    if not (1 <= hmax <= 4 and 1 <= vmax <= 4):
        raise ValueError("bad JPEG sampling factors")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    T = _jpeg_idct_matrix()
    planes = []
    for c in frame["comps"]:
        if c["tq"] not in qt:
            raise ValueError(f"JPEG quant table {c['tq']} undefined")
        planes.append(
            np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        )
    # natural-order dequant tables and scan<->frame component pairing
    deq = []
    for c in frame["comps"]:
        q = np.zeros(64)
        q[_JPEG_ZIGZAG] = qt[c["tq"]]
        deq.append(q.reshape(8, 8))
    by_id = {c["id"]: i for i, c in enumerate(frame["comps"])}
    order = []
    for s in scan:
        if s["id"] not in by_id:
            raise ValueError(f"JPEG scan references unknown component {s['id']}")
        order.append((by_id[s["id"]], s))

    dc_pred = [0] * len(frame["comps"])
    seg_i = 0
    bits = _JpegBits(segments[0])
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("JPEG missing restart segment")
            bits = _JpegBits(segments[seg_i])
            dc_pred = [0] * len(frame["comps"])
        my, mx = divmod(m, mcux)
        for ci, s in order:
            comp = frame["comps"][ci]
            dct = huff_tables.get((0, s["dc"]))
            act = huff_tables.get((1, s["ac"]))
            if dct is None or act is None:
                raise ValueError("JPEG Huffman table undefined for scan")
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    coef = np.zeros((8, 8))
                    ssss = bits.huff(dct)
                    if ssss > 11:
                        raise ValueError("invalid JPEG DC category")
                    dc_pred[ci] += _jpeg_extend(bits.receive(ssss), ssss)
                    coef[0, 0] = dc_pred[ci]
                    k = 1
                    while k < 64:
                        rs = bits.huff(act)
                        r, size = rs >> 4, rs & 15
                        if size == 0:
                            if r == 15:  # ZRL: sixteen zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC index overrun")
                        zz = _JPEG_ZIGZAG[k]
                        coef[zz // 8, zz % 8] = _jpeg_extend(
                            bits.receive(size), size
                        )
                        k += 1
                    px = T.T @ (coef * deq[ci]) @ T + 128.0
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px

    return _jpeg_color_finish(frame, planes, h, w, hmax, vmax)


def _jpeg_color_finish(frame, planes, h, w, hmax, vmax):
    """Shared JPEG finish: upsample each component plane to full
    resolution (nearest/box), crop to (h, w), and color-convert (1-comp
    grayscale replicated, 3-comp full-range JFIF YCbCr→RGB)."""
    import numpy as np

    full = []
    for ci, c in enumerate(frame["comps"]):
        p = planes[ci]
        if c["v"] != vmax:
            p = np.repeat(p, vmax // c["v"], axis=0)
        if c["h"] != hmax:
            p = np.repeat(p, hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return np.ascontiguousarray(g[:, :, None].repeat(3, axis=2))
    Y, Cb, Cr = full
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _decode_jpeg_progressive(data: bytes):
    """Decode PROGRESSIVE JPEG (SOF2) with pure numpy + stdlib — the
    multi-scan coefficient decoder over the same Huffman/IDCT/color
    machinery as the baseline path (T.81 Annex G; algorithm structure
    follows the spec's figures G.2/G.7, the same ones every open decoder
    implements). Coefficients accumulate across scans into per-component
    block grids: DC first/refine scans (interleaved or single-component),
    AC first/refine scans (single-component per spec) with spectral
    selection (Ss..Se bands), successive approximation (Ah/Al bit planes),
    EOB-run coding, and restart markers. After the last scan: dequant →
    IDCT → upsample → JFIF color convert (`_jpeg_color_finish`).

    Closes the r10 env-gate note: progressive is ~10% of web JPEGs, so a
    crawl image pipeline can't screen on baseline-only decode. Like the
    baseline path, the sequential Huffman walk is Python-loop bound —
    fixtures and moderate assets; inject a codec via `feature_fn` for
    throughput-critical decode."""
    import struct

    import numpy as np

    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_tables: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    coef: list = []  # per component: int64 array (nby, nbx, 64) NATURAL-order
    geom = None
    pos = 2
    saw_scan = False

    def read_segments(p: int) -> tuple[list[bytes], int]:
        # de-stuff entropy bytes from p; split at RSTn; stop at any marker
        segments, cur = [], bytearray()
        while p < len(data):
            byte = data[p]
            if byte == 0xFF:
                nxt = data[p + 1] if p + 1 < len(data) else 0xD9
                if nxt == 0x00:
                    cur.append(0xFF)
                    p += 2
                    continue
                if 0xD0 <= nxt <= 0xD7:
                    segments.append(bytes(cur))
                    cur = bytearray()
                    p += 2
                    continue
                break
            cur.append(byte)
            p += 1
        segments.append(bytes(cur))
        return segments, p

    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 15
                if prec != 0:
                    raise ValueError("16-bit JPEG quant tables unsupported")
                qt[tid] = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8).astype(
                    np.float64
                )
                b += 65
        elif marker == 0xC4:
            b = 0
            while b < len(body):
                tclass, tid = body[b] >> 4, body[b] & 15
                counts = body[b + 1 : b + 17]
                syms = body[b + 17 : b + 17 + sum(counts)]
                table, code, si = {}, 0, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = syms[si]
                        code += 1
                        si += 1
                    code <<= 1
                huff_tables[(tclass, tid)] = table
                b += 17 + sum(counts)
        elif marker == 0xC2:
            prec, h, w, ncomp = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec} (8 only)")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if h <= 0 or w <= 0 or not (1 <= hmax <= 4 and 1 <= vmax <= 4):
                raise ValueError("bad JPEG dimensions/sampling")
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            geom = (hmax, vmax, mcux, mcuy)
            coef = [
                np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
                for c in comps
            ]
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("mixed/unsupported SOF in progressive stream")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:
            if frame is None or geom is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scomps = []
            for i in range(ns):
                cs, tt = body[1 + 2 * i], body[2 + 2 * i]
                scomps.append({"id": cs, "dc": tt >> 4, "ac": tt & 15})
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 15
            segments, pos = read_segments(pos + 2 + seglen)
            _jpeg_progressive_scan(
                frame, geom, coef, huff_tables, scomps, ss, se, ah, al,
                segments, restart_interval,
            )
            saw_scan = True
            continue
        pos += 2 + seglen
    if frame is None or not saw_scan:
        raise ValueError("JPEG missing SOF/SOS")

    hmax, vmax, mcux, mcuy = geom
    h, w = frame["h"], frame["w"]
    T = _jpeg_idct_matrix()
    planes = []
    for ci, c in enumerate(frame["comps"]):
        if c["tq"] not in qt:
            raise ValueError(f"JPEG quant table {c['tq']} undefined")
        q = np.zeros(64)
        q[_JPEG_ZIGZAG] = qt[c["tq"]]
        nby, nbx = coef[ci].shape[:2]
        # the scan decoder stores NATURAL-order positions (blk[ZZ[k]]);
        # dequant + batched IDCT over all blocks at once
        blocks = coef[ci].astype(np.float64).reshape(nby, nbx, 8, 8) * q.reshape(8, 8)
        px = np.einsum("ux,mnuv,vy->mnxy", T, blocks, T) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        planes.append(plane)
    return _jpeg_color_finish(frame, planes, h, w, hmax, vmax)


def _jpeg_progressive_scan(
    frame, geom, coef, huff_tables, scomps, ss, se, ah, al, segments,
    restart_interval,
):
    """Apply one progressive scan to the coefficient grids — T.81 Annex G
    semantics (DC/AC × first/refinement), EOB-run coding, restart resets."""
    hmax, vmax, mcux, mcuy = geom
    by_id = {c["id"]: i for i, c in enumerate(frame["comps"])}
    order = []
    for s in scomps:
        if s["id"] not in by_id:
            raise ValueError(f"JPEG scan references unknown component {s['id']}")
        order.append((by_id[s["id"]], s))
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("JPEG progressive scan with Ss=0 must have Se=0")
    if not is_dc and len(order) != 1:
        raise ValueError("JPEG progressive AC scan must be single-component")
    if not (0 < se < 64 or is_dc) or ss > se:
        raise ValueError("bad JPEG spectral selection")

    # traversal: a scan is interleaved iff ns > 1 (T.81 §B.2.3); a
    # single-component scan walks that component's OWN block grid
    mcus: list[list[tuple[int, int, int]]] = []
    if len(order) > 1:
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            blocks = []
            for ci, _s in order:
                c = frame["comps"][ci]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        blocks.append((ci, my * c["v"] + by, mx * c["h"] + bx))
            mcus.append(blocks)
    else:
        ci, _s = order[0]
        c = frame["comps"][ci]
        comp_w = -(-frame["w"] * c["h"] // hmax)  # ceil
        comp_h = -(-frame["h"] * c["v"] // vmax)
        nbx, nby = -(-comp_w // 8), -(-comp_h // 8)
        for by in range(nby):
            for bx in range(nbx):
                mcus.append([(ci, by, bx)])

    ZZ = _JPEG_ZIGZAG
    p1 = 1 << al
    m1 = -1 << al
    scomp_of = {ci: s for ci, s in order}
    seg_i = 0
    bits = _JpegBits(segments[0])
    dc_pred = [0] * len(frame["comps"])
    eobrun = 0

    def refine_nonzero(blk, k):
        # history coefficient: one correction bit, magnitude moves outward
        if bits.bit():
            if (blk[ZZ[k]] & p1) == 0:
                blk[ZZ[k]] += p1 if blk[ZZ[k]] >= 0 else m1

    for m, blocks in enumerate(mcus):
        if restart_interval and m and m % restart_interval == 0:
            seg_i += 1
            if seg_i >= len(segments):
                raise ValueError("JPEG missing restart segment")
            bits = _JpegBits(segments[seg_i])
            dc_pred = [0] * len(frame["comps"])
            eobrun = 0
        for ci, by, bx in blocks:
            blk = coef[ci][by, bx]
            stab = scomp_of[ci]
            if is_dc:
                if ah == 0:  # DC first
                    dct = huff_tables.get((0, stab["dc"]))
                    if dct is None:
                        raise ValueError("JPEG DC Huffman table undefined")
                    ssss = bits.huff(dct)
                    if ssss > 11:
                        raise ValueError("invalid JPEG DC category")
                    dc_pred[ci] += _jpeg_extend(bits.receive(ssss), ssss)
                    blk[0] = dc_pred[ci] << al
                else:  # DC refinement: one appended bit per block
                    if bits.bit():
                        blk[0] |= p1
                continue
            act = huff_tables.get((1, stab["ac"]))
            if act is None:
                raise ValueError("JPEG AC Huffman table undefined")
            if ah == 0:  # AC first
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = bits.huff(act)
                    r, size = rs >> 4, rs & 15
                    if size == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += bits.receive(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC index overrun")
                    blk[ZZ[k]] = _jpeg_extend(bits.receive(size), size) << al
                    k += 1
            else:  # AC refinement (spec figure G.7 / the canonical loop)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = bits.huff(act)
                        r, size = rs >> 4, rs & 15
                        newval = 0
                        if size:
                            if size != 1:
                                raise ValueError("invalid JPEG AC refinement size")
                            newval = p1 if bits.bit() else m1
                        elif r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += bits.receive(r)
                            break
                        # advance over r zero-HISTORY positions, correcting
                        # nonzero-history coefficients along the way
                        while k <= se:
                            if blk[ZZ[k]] != 0:
                                refine_nonzero(blk, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if size:
                            if k > se:
                                raise ValueError("JPEG AC refinement overrun")
                            blk[ZZ[k]] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if blk[ZZ[k]] != 0:
                            refine_nonzero(blk, k)
                        k += 1
                    eobrun -= 1


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW: variable code width starting min_code_size+1,
    CLEAR = 2^min, EOI = CLEAR+1, dictionary capped at 4096 entries, width
    grows when the next assignable code would overflow the current width.
    Returns exactly n_pixels palette indices (extra trailing codes beyond
    n_pixels are ignored, per common decoder practice)."""
    CLEAR = 1 << min_code_size
    EOI = CLEAR + 1
    out: list[int] = []
    # bit reader: GIF packs codes LSB-first
    acc = 0
    nbits = 0
    pos = 0

    def read_code(width: int) -> int | None:
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    def reset_dict():
        return {i: (i,) for i in range(CLEAR)}

    # SLOT-COUNTER sync (giflib semantics): next_code advances on every
    # data code READ — it reserves the slot whose content becomes known
    # only one emission later — so the width-growth boundary lands on the
    # same emission as the encoder's. The latest reserved-but-unfilled
    # slot (next_code - 1) is exactly the KwKwK case.
    table = reset_dict()
    width = min_code_size + 1
    prev: tuple | None = None
    next_code = EOI + 1
    while len(out) < n_pixels:
        code = read_code(width)
        if code is None or code == EOI:
            break
        if code == CLEAR:
            table = reset_dict()
            width = min_code_size + 1
            next_code = EOI + 1
            prev = None
            continue
        if code in table:
            entry = table[code]
        elif code == next_code - 1 and prev is not None:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.extend(entry)
        if prev is not None and next_code - 1 > EOI and next_code - 1 not in table:
            # fill the slot reserved during the PREVIOUS emission
            table[next_code - 1] = prev + (entry[0],)
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError(
            f"GIF LZW stream ended after {len(out)}/{n_pixels} pixels"
        )
    return out[:n_pixels]


def _gif_frames(data: bytes, max_frames: int = 1):
    """Parse + compose up to `max_frames` frames of a GIF87a/89a stream:
    yields (H, W, 3) uint8 arrays, each the COMPOSED logical screen after
    its frame draws — GCE transparency (transparent pixels leave prior
    content visible) and disposal methods 1 (keep) / 2 (restore background)
    / 3 (restore previous) honored, per-frame local color tables,
    interlace de-interlaced. Raises ValueError on malformed input."""
    import struct

    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, bg_idx, _aspect = struct.unpack_from("<HHBBB", data, 6)
    if sw <= 0 or sh <= 0:
        raise ValueError(f"bad GIF dimensions {sw}x{sh}")
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        if gct.shape[0] != n:
            raise ValueError("truncated GIF global color table")
        pos += 3 * n
    bg = (
        gct[bg_idx]
        if gct is not None and bg_idx < len(gct)
        else np.zeros(3, dtype=np.uint8)
    )
    screen = np.tile(bg, (sh, sw, 1)).astype(np.uint8)
    emitted = 0
    transparent = None
    disposal = 0
    while pos < len(data) and emitted < max_frames:
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos + 1] if pos + 1 < len(data) else 0
            pos += 2
            if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                flags = data[pos + 1]
                disposal = (flags >> 2) & 0x07
                transparent = data[pos + 4] if flags & 1 else None
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h, ipacked = struct.unpack_from("<HHHHB", data, pos + 1)
        pos += 10
        lct = None
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
            if lct.shape[0] != n:
                raise ValueError("truncated GIF local color table")
            pos += 3 * n
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF image without a color table")
        if w <= 0 or h <= 0 or left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        min_code_size = data[pos]
        pos += 1
        if not (2 <= min_code_size <= 11):
            raise ValueError(f"bad GIF LZW min code size {min_code_size}")
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            ln = data[pos]
            lzw += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1  # sub-block terminator
        idx = np.array(
            _gif_lzw_decode(bytes(lzw), min_code_size, w * h), dtype=np.int64
        ).reshape(h, w)
        if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
            order = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            deinter = np.empty_like(idx)
            deinter[order] = idx
            idx = deinter
        if idx.max(initial=0) >= len(palette):
            raise ValueError("GIF palette index out of range")
        saved = screen.copy() if disposal == 3 else None
        rect = screen[top : top + h, left : left + w]
        if transparent is None:
            rect[:] = palette[idx]
        else:
            opaque = idx != transparent
            rect[opaque] = palette[idx[opaque]]
        yield screen.copy()
        emitted += 1
        if disposal == 2:
            screen[top : top + h, left : left + w] = bg
        elif disposal == 3 and saved is not None:
            screen = saved
        transparent = None
        disposal = 0
    if emitted == 0:
        raise ValueError("GIF contains no image block")


def decode_gif(data: bytes):
    """Decode GIF87a/GIF89a bytes into an (H, W, 3) uint8 array with pure
    stdlib + numpy (r10 — LZW is ~60 lines of plain code, no codec library
    needed; this closes the LAST image-format gate). FIRST composed frame
    (animated GIFs: `_gif_frames` yields the later ones); the frame is
    composed onto a background-color-filled logical screen; interlaced
    frames are de-interlaced per the 4-pass spec; transparent pixels show
    the background. Raises ValueError on malformed input."""
    for frame in _gif_frames(data, max_frames=1):
        return frame
    raise ValueError("GIF contains no image block")  # pragma: no cover


def decode_image_bytes(data: bytes):
    """Magic-number dispatch to the codec-free decoders: netpbm (P3/P5/P6),
    uncompressed BMP, PNG (zlib is stdlib — `decode_png`), baseline +
    progressive JPEG (`decode_jpeg`, pure numpy — r10/r11), GIF
    (`decode_gif`, pure-python LZW — r10), TIFF (incl. LZW — r11), and
    WebP lossless (`decode_webp` → `vp8l_decode` — r12) ALL decode for
    real; anything else raises ValueError. The only image gate left is
    lossy WebP (VP8 is a video intra-frame, grouped with the video-codec
    gate). Per-row callers map failures to the sentinel."""
    head = bytes(data[:4])
    if head[:1] == b"P" and head[1:2] in b"356":
        return decode_ppm(data)
    if head[:2] == b"BM":
        return decode_bmp(data)
    if head == b"\x89PNG":
        return decode_png(data)
    if head[:3] == b"\xff\xd8\xff":
        return decode_jpeg(data)
    if head[:3] == b"GIF":
        return decode_gif(data)
    if head in (b"II*\x00", b"MM\x00*"):
        return decode_tiff(data)
    if head == b"RIFF" and bytes(data[8:12]) == b"WEBP":
        return decode_webp(data)
    raise ValueError(f"unrecognized image payload (head={head!r})")


def clip_pooled_feature(img, dim: int, vision_size: int = CLIP_VISION_SIZE) -> list[float]:
    """Decoded RGB array → `dim` floats: the full CLIP preprocess
    (Catmull-Rom resize to vision_size², normalize, (C, W, H) layout) followed
    by adaptive average pooling of the flattened tensor into `dim` contiguous
    chunks. This is the codec-free stand-in for the ORT vision-model forward
    pass — a real, deterministic function of every input pixel, so tests pin
    bytes→feature end to end (the ORT runtime swaps in transparently where
    onnxruntime exists)."""
    import numpy as np

    flat = clip_preprocess(img, vision_size).reshape(-1)
    if not (0 < dim <= flat.size):
        raise ValueError(f"dim must be in 1..{flat.size}, got {dim}")
    bounds = np.linspace(0, flat.size, dim + 1, dtype=np.int64)
    return [float(flat[a:b].mean()) for a, b in zip(bounds[:-1], bounds[1:])]


def fake_image_feature(data: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a decoded image feature: md5-seeded values in
    [-1, 1). Lets the full pipeline (schema, batching, sentinel handling) run
    and be asserted without codecs."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(data + b":" + str(i).encode()).hexdigest()[:8], 16)
        out.append(h / 4294967296.0 * 2.0 - 1.0)
    return out


def decode_image_features(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "feature",
    dim: int = 16,
    decoder: str = "fake",
    max_bytes: int = 20 * 1024 * 1024,
) -> DataFrame:
    """Attach a feature vector per media row.

    decoder="numpy" is the REAL, codec-free path: bytes → `decode_image_bytes`
    (PPM/PGM/BMP in pure numpy) → `clip_pooled_feature` (full Catmull-Rom 224²
    CLIP preprocess + adaptive average pooling). decoder="fake" keeps the
    hash-derived stand-in. Any other value raises ValueError.

    Failure semantics match the reference exactly: any row that cannot be
    decoded (null bytes, oversized payload > `max_bytes` — the reference's
    20 MB cap, decode error, unsupported format) yields the `[-1.0]*dim`
    sentinel, never null, preserving row alignment (U6)."""
    if decoder not in ("fake", "numpy"):
        raise ValueError(f"unknown decoder {decoder!r}")

    fields = df.schema.fields + [StructField(out_col, ArrayType(FloatType(), False))]
    out_schema = StructType(fields)
    cols = [f.name for f in df.schema.fields]
    sentinel = [SENTINEL_VALUE] * dim

    def one_feature(data: bytes) -> list[float]:
        if decoder == "numpy":
            return clip_pooled_feature(decode_image_bytes(data), dim)
        return fake_image_feature(data, dim)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for data in pdf[media_col]:
                if data is None or len(data) == 0 or len(data) > max_bytes:
                    feats.append(sentinel)
                    continue
                try:
                    feats.append(one_feature(bytes(data)))
                except Exception:  # decode failure / gated codec → sentinel, never null
                    feats.append(sentinel)
            pdf[out_col] = feats
            yield pdf[cols + [out_col]]

    return df.mapInPandas(extract, out_schema)


# --------------------------------------------------------------------------
# VP8L (WebP lossless) pixel decode — pure stdlib + numpy (r12)
#
# Public "WebP Lossless Bitstream Specification". VP8L is LSB-first bit
# packing, canonical prefix (Huffman) codes stored MSB-first (the DEFLATE
# convention), an LZ77 with a 2D distance map and a color cache, and four
# invertible pixel transforms (predictor / color / subtract-green / color
# indexing). All of it is plain bit-twiddling — the same class of work as
# the GIF-LZW and progressive-JPEG decoders — so WebP lossless joins the
# decodable set and feeds image_phash cross-coding dedup directly. VP8
# (lossy) remains gated: it is a video intra-frame (boolean arithmetic
# coder + loop filter), out of scope with the other lossy video codecs.
# --------------------------------------------------------------------------


class _VP8LReader:
    """LSB-first bit reader (VP8L convention — same bit order as GIF LZW).
    Fields are served by one small byte-slice + int.from_bytes per read —
    the pixel loop is pure Python, so the reader is the hot path."""

    __slots__ = ("d", "bitpos", "nbits")

    def __init__(self, d: bytes):
        self.d = d
        self.bitpos = 0
        self.nbits = 8 * len(d)

    def bits(self, n: int) -> int:
        p = self.bitpos
        if p + n > self.nbits:
            raise ValueError("VP8L: bitstream exhausted")
        b0 = p >> 3
        nb = ((p & 7) + n + 7) >> 3
        v = (int.from_bytes(self.d[b0 : b0 + nb], "little") >> (p & 7)) & (
            (1 << n) - 1
        )
        self.bitpos = p + n
        return v



class _VP8LCode:
    """Canonical prefix code: built from per-symbol code lengths exactly as
    DEFLATE does (codes assigned in (length, symbol) order), decoded bit by
    bit MSB-first. A code used through the 'simple' stream form may carry a
    single symbol (zero bits per read); a normal-form length table with
    EXACTLY ONE used symbol is likewise a 0-bit single-symbol code
    regardless of its stated length (libwebp's BuildHuffmanTable 'special
    case code with only one value' — non-libwebp encoders do emit this,
    e.g. for a code-length code with one distinct length; ADVICE r12); a
    multi-symbol normal-form table must be COMPLETE (Kraft sum exact) —
    libwebp rejects incomplete codes too."""

    __slots__ = ("single", "lut", "max_len", "_mask")

    def __init__(self, lengths, single: int | None = None):
        if single is not None:
            self.single = single
            self.lut = None
            self.max_len = 0
            return
        nonzero = sorted((l, s) for s, l in enumerate(lengths) if l > 0)
        if not nonzero:
            raise ValueError("VP8L: empty prefix code")
        if len(nonzero) == 1:
            self.single = nonzero[0][1]
            self.lut = None
            self.max_len = 0
            return
        self.max_len = nonzero[-1][0]
        if self.max_len > 15:
            raise ValueError("VP8L: code length > 15")
        if sum(1 << (self.max_len - l) for l, _ in nonzero) != 1 << self.max_len:
            raise ValueError("VP8L: incomplete or oversubscribed prefix code")
        self.single = None
        # one-shot LUT over the next max_len raw stream bits: MSB-first
        # canonical codes arrive as LSB-first stream bits, so the table key
        # is the BIT-REVERSED code; a complete code fills every slot
        size = 1 << self.max_len
        lut = [(0, 0)] * size
        code = 0
        prev_len = nonzero[0][0]
        for l, s in nonzero:
            code <<= l - prev_len
            prev_len = l
            rev = 0
            c = code
            for _ in range(l):
                rev = (rev << 1) | (c & 1)
                c >>= 1
            entry = (s, l)
            for k in range(rev, size, 1 << l):
                lut[k] = entry
            code += 1
        self.lut = lut
        self._mask = size - 1

    def read(self, br: _VP8LReader) -> int:
        # fused peek+consume — this is the per-symbol hot path
        if self.single is not None:
            return self.single
        p = br.bitpos
        b0 = p >> 3
        nb = ((p & 7) + self.max_len + 7) >> 3
        key = (
            int.from_bytes(br.d[b0 : b0 + nb], "little") >> (p & 7)
        ) & self._mask
        s, l = self.lut[key]
        if p + l > br.nbits:
            raise ValueError("VP8L: bitstream exhausted")
        br.bitpos = p + l
        return s


# code-length symbols are stored in this fixed order (spec)
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _vp8l_read_code(br: _VP8LReader, alphabet_size: int) -> _VP8LCode:
    """One prefix code: 'simple' form (1-2 literal symbols) or normal form
    (code-length code -> RLE-coded per-symbol lengths, DEFLATE-style 16/17/
    18 repeats, optional max_symbol shortcut)."""
    if br.bits(1):  # simple
        n_symbols = br.bits(1) + 1
        first_8bits = br.bits(1)
        s0 = br.bits(8 if first_8bits else 1)
        if n_symbols == 1:
            if s0 >= alphabet_size:
                raise ValueError("VP8L: simple-code symbol out of range")
            return _VP8LCode(None, single=s0)
        s1 = br.bits(8)
        if s0 == s1 or max(s0, s1) >= alphabet_size:
            raise ValueError("VP8L: bad simple-code symbols")
        lengths = [0] * alphabet_size
        lengths[s0] = lengths[s1] = 1
        return _VP8LCode(lengths)
    n_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(n_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.bits(3)
    cl_code = _VP8LCode(cl_lengths)
    if br.bits(1):  # explicit symbol-count limit
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev = 8
    while sym < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.bits(2)
            if sym + rep > alphabet_size:
                raise ValueError("VP8L: code-length repeat overruns alphabet")
            for _ in range(rep):
                lengths[sym] = prev
                sym += 1
        elif cl == 17:
            sym += 3 + br.bits(3)
        else:
            sym += 11 + br.bits(7)
    if sym > alphabet_size:
        raise ValueError("VP8L: code lengths overrun alphabet")
    return _VP8LCode(lengths)


def _vp8l_prefix_value(br: _VP8LReader, code: int) -> int:
    """LZ77 length/distance prefix decoding: codes 0-3 are literal values
    1-4; beyond that each pair of codes doubles the range with extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _vp8l_dist_table() -> list:
    """The 120-entry short-distance map: 2D offsets (dx, dy) in the 8-row
    neighborhood above the current pixel, ordered by squared euclidean
    distance, ties broken larger dy first then positive dx before negative
    — the generating rule behind the spec's literal table. dx is bounded
    to -7..8 (NOT -8): each entry must pack into the spec's 4-bit plane
    code nibble `8 - dx`; with that bound this generator reproduces
    libwebp's kCodeToPlaneCodes byte-for-byte (structure pinned in
    tests)."""
    cands = [
        (x, y)
        for y in range(8)
        for x in range(-7, 9)
        if y > 0 or x > 0
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], p[0] < 0))
    return cands[:120]


_VP8L_DIST = _vp8l_dist_table()


def _vp8l_subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _vp8l_decode_pixels(br: _VP8LReader, w: int, h: int, is_main: bool) -> list:
    """One entropy-coded image → list of w*h ARGB ints (row-major): color
    cache header, optional meta-prefix (spatially varying code groups, main
    image only), 5 prefix codes per group, then the literal / LZ77-copy /
    cache-reference token stream."""
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L: bad color-cache size {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    group_map = None
    meta_bits = 0
    n_groups = 1
    if is_main and br.bits(1):
        meta_bits = br.bits(3) + 2
        mw = _vp8l_subsample(w, meta_bits)
        mh = _vp8l_subsample(h, meta_bits)
        meta = _vp8l_decode_pixels(br, mw, mh, False)
        group_map = [(p >> 8) & 0xFFFF for p in meta]
        n_groups = max(group_map) + 1
    groups = []
    for _ in range(n_groups):
        groups.append(
            (
                _vp8l_read_code(br, 256 + 24 + cache_size),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 256),
                _vp8l_read_code(br, 40),
            )
        )
    from array import array

    # typed u32 buffer: 4 B/pixel (a python int list is ~28 B/pixel — a
    # 16 MP image would cost ~450 MB); numpy views it zero-copy at the end
    pix = array("I", bytes(4 * w * h))
    if pix.itemsize != 4:  # pragma: no cover — exotic platforms
        pix = array("L", bytes(8 * w * h))
    cache = [0] * cache_size
    n = w * h
    pos = 0
    mw = _vp8l_subsample(w, meta_bits) if group_map is not None else 0
    g_code, r_code, b_code, a_code, d_code = groups[0]
    while pos < n:
        if group_map is not None:
            x, y = pos % w, pos // w
            gi = group_map[(y >> meta_bits) * mw + (x >> meta_bits)]
            g_code, r_code, b_code, a_code, d_code = groups[gi]
        s = g_code.read(br)
        if s < 256:
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            argb = (a << 24) | (r << 16) | (s << 8) | b
            pix[pos] = argb
            pos += 1
            if cache_size:
                cache[((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
        elif s < 280:
            length = _vp8l_prefix_value(br, s - 256)
            dist_code = _vp8l_prefix_value(br, d_code.read(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _VP8L_DIST[dist_code - 1]
                dist = max(dx + dy * w, 1)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: LZ77 copy out of bounds")
            for _ in range(length):
                argb = pix[pos - dist]
                pix[pos] = argb
                pos += 1
                if cache_size:
                    cache[
                        ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
        else:
            if not cache_size:
                raise ValueError("VP8L: cache reference without a color cache")
            pix[pos] = cache[s - 280]
            pos += 1
    return pix


def _vp8l_avg2(a: int, b: int) -> int:
    """Per-channel (a+b)//2 on packed ARGB."""
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_add(a: int, b: int) -> int:
    """Per-channel (a+b) & 0xff on packed ARGB (SWAR: even/odd channel
    pairs added in one int op each, carries masked off)."""
    lo = ((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF
    hi = ((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00
    return lo | hi


def _vp8l_select(t: int, l: int, tl: int) -> int:
    pa_minus_pb = 0
    for sh in (0, 8, 16, 24):
        tc, lc, tlc = (t >> sh) & 0xFF, (l >> sh) & 0xFF, (tl >> sh) & 0xFF
        pa_minus_pb += abs(lc - tlc) - abs(tc - tlc)
    return t if pa_minus_pb <= 0 else l


def _vp8l_clamp_full(a: int, b: int, c: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        v = ((a >> sh) & 0xFF) + ((b >> sh) & 0xFF) - ((c >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_clamp_half(ave: int, c: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        a = (ave >> sh) & 0xFF
        # C integer division truncates toward zero (libwebp semantics)
        d = a - ((c >> sh) & 0xFF)
        v = a + (d // 2 if d >= 0 else -((-d) // 2))
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _vp8l_predict(mode: int, l: int, t: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(l, tr), t)
    if mode == 6:
        return _vp8l_avg2(l, tl)
    if mode == 7:
        return _vp8l_avg2(l, t)
    if mode == 8:
        return _vp8l_avg2(tl, t)
    if mode == 9:
        return _vp8l_avg2(t, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(l, tl), _vp8l_avg2(t, tr))
    if mode == 11:
        return _vp8l_select(t, l, tl)
    if mode == 12:
        return _vp8l_clamp_full(l, t, tl)
    if mode == 13:
        return _vp8l_clamp_half(_vp8l_avg2(l, t), tl)
    raise ValueError(f"VP8L: predictor mode {mode} out of range")


def _vp8l_inv_predictor(arr, w: int, h: int, bits: int, sub: list) -> None:
    """In-place inverse predictor transform over a (h, w) uint32 ARGB
    array: residual + prediction per channel mod 256. Edge rules (spec):
    (0,0) predicts opaque black, the rest of row 0 predicts LEFT, column 0
    predicts TOP; the top-right neighbor of the last column wraps to the
    current row's first pixel (the 1D scanline neighbor).

    Hot path: predictors that don't read the LEFT neighbor (modes 0/2/3/
    4/8/9) vectorize over each same-mode block run via the uint8 channel
    view (wrapping adds are native); mode 1 (LEFT) is a seeded per-channel
    cumulative sum; the remaining left-dependent modes (5/6/7/10-13) fall
    back to the packed-int scalar kernel."""
    import numpy as np

    sw = _vp8l_subsample(w, bits)
    u8 = arr.view(np.uint8).reshape(h, w, 4)  # little-endian: b, g, r, a
    # row 0: (0,0) += opaque black, then LEFT = one seeded cumsum
    u8[0, 0, 3] += 255
    if w > 1:
        u8[0] = (np.cumsum(u8[0].astype(np.int64), axis=0) & 0xFF).astype(np.uint8)
    bs = 1 << bits
    for y in range(1, h):
        u8[y, 0] += u8[y - 1, 0]  # column 0: TOP
        rl = pl = None  # lazy python-int mirrors for the scalar fallback
        x = 1
        while x < w:
            x1 = min((x // bs + 1) * bs, w)
            mode = (sub[(y >> bits) * sw + (x >> bits)] >> 8) & 0xFF
            if mode == 2:
                u8[y, x:x1] += u8[y - 1, x:x1]
            elif mode == 0:
                u8[y, x:x1, 3] += 255
            elif mode == 4:
                u8[y, x:x1] += u8[y - 1, x - 1 : x1 - 1]
            elif mode in (3, 8, 9):
                if x1 == w:  # TR of the last column wraps to (0, y)
                    tr = np.concatenate([u8[y - 1, x + 1 :], u8[y : y + 1, 0]])
                else:
                    tr = u8[y - 1, x + 1 : x1 + 1]
                if mode == 3:
                    u8[y, x:x1] += tr
                elif mode == 9:
                    u8[y, x:x1] += (
                        (u8[y - 1, x:x1].astype(np.uint16) + tr) >> 1
                    ).astype(np.uint8)
                else:
                    u8[y, x:x1] += (
                        (
                            u8[y - 1, x - 1 : x1 - 1].astype(np.uint16)
                            + u8[y - 1, x:x1]
                        )
                        >> 1
                    ).astype(np.uint8)
            elif mode == 1:
                seg = np.cumsum(u8[y, x:x1].astype(np.int64), axis=0)
                u8[y, x:x1] = (
                    (seg + u8[y, x - 1].astype(np.int64)) & 0xFF
                ).astype(np.uint8)
            else:  # left-dependent non-linear modes: scalar kernel over
                # python ints (bulk tolist beats per-element numpy access)
                rl = arr[y].tolist()  # reflects vector runs done so far
                if pl is None:
                    pl = arr[y - 1].tolist()
                for xi in range(x, x1):
                    tr = pl[xi + 1] if xi + 1 < w else rl[0]
                    pred = _vp8l_predict(
                        mode, rl[xi - 1], pl[xi], pl[xi - 1], tr
                    )
                    rl[xi] = _vp8l_add(rl[xi], pred)
                arr[y, x:x1] = rl[x:x1]
            x = x1


def _vp8l_inv_color_transform(arr, w: int, h: int, bits: int, sub: list) -> None:
    """In-place inverse color transform over a (h, w) uint32 ARGB array:
    per block, the transform element (green_to_red in the BLUE channel,
    green_to_blue in GREEN, red_to_blue in RED — libwebp's packing) is
    undone by re-adding the cross-channel deltas; red reconstructs first
    because red_to_blue keys on it. No sequential dependency — fully
    vectorized, factors and channels as signed int8 per the spec."""
    import numpy as np

    sw = _vp8l_subsample(w, bits)
    sh = _vp8l_subsample(h, bits)
    cte = np.asarray(sub, dtype=np.uint32).reshape(sh, sw)
    cte = np.repeat(np.repeat(cte, 1 << bits, axis=0), 1 << bits, axis=1)[:h, :w]

    def s8(v):  # uint8 channel -> signed int8 -> int16 workspace
        return v.astype(np.uint8).view(np.int8).astype(np.int16)

    def delta(t, c):
        return (s8(t) * s8(c)) >> 5

    g2r, g2b, r2b = cte & 0xFF, (cte >> 8) & 0xFF, (cte >> 16) & 0xFF
    g = (arr >> 8) & 0xFF
    red = (((arr >> 16) & 0xFF).astype(np.int16) + delta(g2r, g)) & 0xFF
    blue = (
        (arr & 0xFF).astype(np.int16) + delta(g2b, g) + delta(r2b, red)
    ) & 0xFF
    arr[:] = (
        (arr & 0xFF00FF00)
        | (red.astype(np.uint32) << 16)
        | blue.astype(np.uint32)
    )


def _vp8l_inv_subtract_green(arr) -> None:
    g = (arr >> 8) & 0xFF
    r = (((arr >> 16) & 0xFF) + g) & 0xFF
    b = ((arr & 0xFF) + g) & 0xFF
    arr[:] = (arr & 0xFF00FF00) | (r << 16) | b


def _vp8l_inv_palette(arr, cur_w: int, h: int, xbits: int, palette: list, orig_w: int):
    """Inverse color-indexing over a (h, cur_w) uint32 array: green channel
    holds palette indices — packed 2/4/8-per-pixel (LSB-first) when the
    palette is small. Out-of-range indices are malformed input (fail
    loud). Returns the (h, orig_w) looked-up array."""
    import numpy as np

    # '<u4', not native uint32: every downstream uint8 view assumes the
    # little-endian (b,g,r,a) channel layout (ADVICE r12 — the main decode
    # path already pins '<u4'; a native dtype would swap channels on a
    # big-endian host)
    pal = np.asarray(palette, dtype="<u4")
    g = (arr >> 8) & 0xFF
    if xbits:
        per = 1 << xbits
        ibits = 8 >> xbits
        mask = (1 << ibits) - 1
        # unpack: (h, cur_w, per) sub-indices, LSB-first, crop to orig_w
        shifts = (np.arange(per, dtype=np.uint32) * ibits)[None, None, :]
        idx = ((g[:, :, None] >> shifts) & mask).reshape(h, cur_w * per)
        idx = idx[:, :orig_w]
    else:
        idx = g
    if int(idx.max(initial=0)) >= len(pal):
        raise ValueError(
            f"VP8L: palette index {int(idx.max())} >= {len(pal)}"
        )
    return pal[idx]


def vp8l_decode(payload: bytes):
    """Decode a VP8L chunk payload (the bytes after the RIFF chunk header)
    into an (H, W, 3) uint8 RGB array — alpha dropped per the decode_png/
    decode_bmp convention. Full lossless feature set: all four transforms,
    color cache, LZ77 with the 2D distance map, meta-prefix code groups,
    simple and normal prefix-code forms."""
    import numpy as np

    br = _VP8LReader(bytes(payload))
    if br.bits(8) != 0x2F:
        raise ValueError("VP8L: bad signature byte")
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha-used hint
    if br.bits(3) != 0:
        raise ValueError("VP8L: unsupported version")
    transforms = []
    seen = set()
    cur_w = w
    while br.bits(1):
        t = br.bits(2)
        if t in seen:
            raise ValueError(f"VP8L: duplicate transform {t}")
        seen.add(t)
        if t in (0, 1):  # predictor / color transform
            bits = br.bits(3) + 2
            sub = _vp8l_decode_pixels(
                br, _vp8l_subsample(cur_w, bits), _vp8l_subsample(h, bits), False
            )
            transforms.append((t, bits, sub, cur_w))
        elif t == 2:  # subtract green
            transforms.append((2, 0, None, cur_w))
        else:  # color indexing
            n_colors = br.bits(8) + 1
            raw_pal = _vp8l_decode_pixels(br, n_colors, 1, False)
            palette = []
            prev = 0
            for p in raw_pal:  # palette rows are delta-coded
                prev = _vp8l_add(prev, p)
                palette.append(prev)
            xbits = 3 if n_colors <= 2 else 2 if n_colors <= 4 else (
                1 if n_colors <= 16 else 0
            )
            transforms.append((3, xbits, palette, cur_w))
            if xbits:
                cur_w = _vp8l_subsample(cur_w, xbits)
    pix = _vp8l_decode_pixels(br, cur_w, h, True)
    # dtype '<u4' so the uint8 channel view is (b, g, r, a) on any host
    arr = np.asarray(pix, dtype="<u4").reshape(h, cur_w)
    for t, bits, aux, width_at_read in reversed(transforms):
        if t == 3:
            arr = _vp8l_inv_palette(arr, cur_w, h, bits, aux, width_at_read)
            cur_w = width_at_read
        elif t == 2:
            _vp8l_inv_subtract_green(arr)
        elif t == 0:
            _vp8l_inv_predictor(arr, cur_w, h, bits, aux)
        else:
            _vp8l_inv_color_transform(arr, cur_w, h, bits, aux)
    if cur_w != w:
        raise ValueError("VP8L: transform chain did not restore full width")
    return np.stack(
        [(arr >> 16) & 0xFF, (arr >> 8) & 0xFF, arr & 0xFF], axis=-1
    ).astype(np.uint8)


def decode_webp(data: bytes):
    """Decode a WebP container: VP8L (lossless) chunks decode for REAL
    (`vp8l_decode`); VP8 (lossy) stays gated — it is a video intra-frame
    (boolean arithmetic coding + reconstruction filters), grouped with the
    VP8/VP9/AV1 video gate, not an image-format gap."""
    import struct

    data = bytes(data)
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    off = 12
    while off + 8 <= len(data):
        cid = data[off : off + 4]
        size = struct.unpack_from("<I", data, off + 4)[0]
        body = data[off + 8 : off + 8 + size]
        if cid == b"VP8L":
            return vp8l_decode(body)
        if cid == b"VP8 ":
            raise ValueError(
                "WebP VP8 (lossy) pixel decode is gated: video intra-frame "
                "codec, decode with the platform codec where available"
            )
        off += 8 + size + (size & 1)
    raise ValueError("WebP payload has no VP8L chunk")


def image_phash_bytes(data: bytes, kind: str = "phash") -> int:
    """Perceptual image hash (64-bit) — the image twin of text SimHash, for
    near-duplicate image dedup at corpus scale (published algorithms):

    - kind='phash': luma → Catmull-Rom resize 32×32 → 2-D DCT-II → top-left
      8×8 low-frequency block → bit = coefficient > median(block). Robust to
      re-encoding, mild resizing/blur/brightness shifts.
    - kind='dhash': luma → resize 8×9 → bit = px[r,c] > px[r,c+1] (row
      gradients). Cheaper, slightly less robust.

    Uses the in-repo codec-free decode + the same Catmull-Rom kernel as the
    CLIP preprocess — fully deterministic, no codec libraries. Returns an
    unsigned 64-bit int (MSB-first bit order)."""
    import numpy as np

    img = np.asarray(decode_image_bytes(data), dtype=np.float64)
    luma = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    if kind == "dhash":
        g = resize_catmull_rom(luma[:, :, None], 8, 9)[:, :, 0]
        bits = (g[:, :-1] > g[:, 1:]).reshape(-1)
    elif kind == "phash":
        g = resize_catmull_rom(luma[:, :, None], 32, 32)[:, :, 0]
        n = 32
        k = np.arange(n)[:, None]
        j = np.arange(n)[None, :]
        M = np.cos(np.pi * (2 * j + 1) * k / (2 * n))
        block = (M @ g @ M.T)[:8, :8]
        med = np.median(block)
        bits = (block > med).reshape(-1)
    else:
        raise ValueError(f"unknown hash kind {kind!r} (phash/dhash)")
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v


def image_phash(
    df: DataFrame,
    media_col: str = "media",
    out_col: str = "phash",
    kind: str = "phash",
) -> DataFrame:
    """Attach a 64-bit perceptual hash per image row (Arrow-batched, rides
    the scan). Undecodable rows get NULL (extraction semantics — a sentinel
    hash would create a giant fake duplicate cluster of all broken images).
    Stored as Spark BIGINT (two's complement of the u64). Feed the result to
    `dedup.hash_neardup_pairs` for banded Hamming near-dup pairs."""
    if kind not in ("phash", "dhash"):
        raise ValueError(f"unknown hash kind {kind!r} (phash/dhash)")
    fields = df.schema.fields + [StructField(out_col, LongType())]
    out_schema = StructType(fields)
    cols = [f.name for f in df.schema.fields]

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for data in pdf[media_col]:
                try:
                    v = image_phash_bytes(bytes(data), kind=kind)
                    outs.append(v - (1 << 64) if v >= 1 << 63 else v)
                except Exception:
                    outs.append(None)
            pdf[out_col] = pd.array(outs, dtype="Int64")
            yield pdf[cols + [out_col]]

    return df.mapInPandas(extract, out_schema)


def with_media_metadata(df: DataFrame, media_col: str = "media") -> DataFrame:
    """Cheap metadata extraction without decoding: byte length and magic-number
    sniffing as native expressions. Every image format `decode_image_bytes`
    handles gets its own label (RIFF counts as webp only with the WEBP form
    type at bytes 9-12); anything else reads 'unknown', so routing stays a
    pure projection."""
    m = F.col(media_col)
    head = F.hex(F.substring(m, 1, 4))
    form = F.substring(m, 9, 4).cast("string")
    return df.withColumn("media_bytes", F.length(m)).withColumn(
        "media_format",
        F.when(head.startswith("FFD8"), "jpeg")
        .when(head.startswith("89504E47"), "png")
        .when(head.startswith("47494638"), "gif")
        .when(head.startswith("424D"), "bmp")
        .when(head.startswith("5033") | head.startswith("5035") | head.startswith("5036"), "netpbm")
        .when((head == "52494646") & (form == "WEBP"), "webp")
        .when(head.isin("49492A00", "4D4D002A"), "tiff")
        .otherwise("unknown"),
    )
