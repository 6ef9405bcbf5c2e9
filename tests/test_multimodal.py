"""Image path: fetch caps, sentinel failure semantics (ort_runtime.rs:956-960),
metadata sniffing, the codec-free decoders, CLIP preprocess and pHash."""

import numpy as np
import pytest

from lantern_extras_spark.multimodal import (
    decode_image_features,
    fake_image_feature,
    with_media_metadata,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytearray(b"\xff\xd8\xff\xe0" + b"jpegdata" * 10), "image"),
        (2, None, "image"),                      # null payload -> sentinel
        (3, bytearray(b""), "image"),            # empty payload -> sentinel
        (4, bytearray(b"\x89PNG\r\n" + b"x" * 50), "image"),
        (5, bytearray(b"plain bytes, unknown format"), "blob"),
    ]
    return spark.createDataFrame(rows, "media_id long, media binary, media_type string")


def test_decode_sentinel_semantics(media):
    out = {r["media_id"]: r["feature"] for r in decode_image_features(media, dim=8).collect()}
    assert out[2] == [-1.0] * 8 and out[3] == [-1.0] * 8  # sentinel, NOT null
    assert out[1] != [-1.0] * 8 and len(out[1]) == 8
    # deterministic (feature column is float32; compare with tolerance)
    expect = fake_image_feature(bytes(b"\xff\xd8\xff\xe0" + b"jpegdata" * 10), 8)
    assert out[1] == pytest.approx(expect, abs=1e-6)


def test_oversized_payload_sentinel(spark):
    big = spark.createDataFrame(
        [(1, bytearray(b"x" * 1000), "image")], "media_id long, media binary, media_type string"
    )
    out = decode_image_features(big, dim=4, max_bytes=100).first()
    assert out["feature"] == [-1.0] * 4  # reference 20MB-cap behavior, scaled down


def test_metadata_sniffing(media):
    got = {r["media_id"]: (r["media_format"], r["media_bytes"]) for r in with_media_metadata(media).collect()}
    assert got[1][0] == "jpeg"
    assert got[4][0] == "png"
    assert got[5][0] == "unknown"
    assert got[2] == (None, None) or got[2][1] is None


def test_pil_decoder_is_clearly_stubbed(media):
    with pytest.raises(ValueError, match="unknown decoder"):
        decode_image_features(media, decoder="pil")


# ---------------------------------------------------------------------------
# Image-fetch scaffolding (U6 fetch caps) against an injected transport
# ---------------------------------------------------------------------------

# module-level fake transport state: picklable, ships to executors
_FAKE_SITE = {
    "http://ok/a": (200, b"\xff\xd8\xff\xe0" + b"img" * 20, None),
    "http://redir/1": (302, None, "http://redir/2"),
    "http://redir/2": (302, None, "http://ok/a"),
    "http://redir/loop1": (302, None, "http://redir/loop2"),
    "http://redir/loop2": (302, None, "http://redir/loop3"),
    "http://redir/loop3": (302, None, "http://ok/a"),
    "http://big/payload": (200, b"x" * 2048, None),
    "http://err/500": (500, None, None),
    "http://err/empty": (200, b"", None),
}


def fake_transport(url, timeout_s):
    if url == "http://slow/never":
        raise TimeoutError
    if url not in _FAKE_SITE:
        return (404, None, None)
    return _FAKE_SITE[url]


def test_fetch_bytes_caps():
    from lantern_extras_spark.multimodal.media import fetch_bytes

    data, err = fetch_bytes("http://ok/a", fake_transport)
    assert err is None and data.startswith(b"\xff\xd8")
    # 2 redirects allowed...
    data, err = fetch_bytes("http://redir/1", fake_transport)
    assert err is None and data is not None
    # ...3 is one too many (reference cap)
    data, err = fetch_bytes("http://redir/loop1", fake_transport)
    assert data is None and "redirect" in err
    # payload cap
    data, err = fetch_bytes("http://big/payload", fake_transport, max_bytes=1024)
    assert data is None and "cap" in err
    # timeout and status errors
    assert fetch_bytes("http://slow/never", fake_transport)[1].startswith("timeout")
    assert fetch_bytes("http://err/500", fake_transport)[1] == "http 500"
    assert fetch_bytes("http://err/empty", fake_transport)[1] == "empty body"
    assert fetch_bytes("http://gone/404", fake_transport)[1] == "http 404"


def test_fetch_bytes_requires_transport():
    from lantern_extras_spark.multimodal.media import fetch_bytes

    with pytest.raises(NotImplementedError):
        fetch_bytes("http://anything", None)


def test_fetch_media_pipeline_sentinel_composition(spark):
    """fetch_media + decode_image_features end to end: failures become null
    payloads with error strings, then the [-1]*dim sentinel — row alignment
    preserved (reference ort_runtime.rs:925-997 semantics)."""
    from lantern_extras_spark.multimodal.media import fetch_media

    # nested def: cloudpickle ships it by value (a test-module-level function
    # pickles by reference and executors can't import test modules)
    site = dict(_FAKE_SITE)

    def transport(url, timeout_s):
        if url == "http://slow/never":
            raise TimeoutError
        return site.get(url, (404, None, None))

    rows = [
        (1, "http://ok/a"),
        (2, "http://redir/1"),
        (3, "http://redir/loop1"),
        (4, "http://slow/never"),
        (5, None),
        (6, "http://big/payload"),
    ]
    df = spark.createDataFrame(rows, "media_id long, url string")
    fetched = fetch_media(df, transport=transport, max_bytes=1024)
    out = decode_image_features(fetched, dim=4)
    got = {r["media_id"]: (r["media"] is not None, r["fetch_error"], r["feature"]) for r in out.collect()}
    assert got[1][0] and got[1][1] is None and got[1][2] != [-1.0] * 4
    assert got[2][0]  # redirect chain within cap succeeds
    for mid, expect_err in [(3, "redirect"), (4, "timeout"), (5, "null url"), (6, "cap")]:
        ok, err, feat = got[mid]
        assert not ok and expect_err in err and feat == [-1.0] * 4
    # identical payloads produce identical features (fetch is deterministic)
    assert got[1][2] == got[2][2]


def test_urllib_transport_against_local_server():
    """Drive the real stdlib transport against a loopback HTTP server:
    redirects surfaced (not followed) so fetch_bytes enforces the 2-hop cap,
    status and payload-cap behavior end to end."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from lantern_extras_spark.multimodal.media import fetch_bytes, urllib_transport

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/ok":
                body = b"\xff\xd8payload"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif self.path.startswith("/redir"):
                n = int(self.path[len("/redir"):])
                target = "/ok" if n <= 1 else f"/redir{n - 1}"
                self.send_response(302)
                self.send_header("Location", f"http://127.0.0.1:{self.server.server_port}{target}")
                self.end_headers()
            elif self.path == "/big":
                body = b"x" * 4096
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_port
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        data, err = fetch_bytes(f"{base}/ok", urllib_transport)
        assert err is None and data == b"\xff\xd8payload"
        # 2 hops allowed, 3 rejected by the fetcher (transport surfaces each 302)
        data, err = fetch_bytes(f"{base}/redir2", urllib_transport)
        assert err is None and data is not None
        data, err = fetch_bytes(f"{base}/redir3", urllib_transport)
        assert data is None and "redirect" in err
        data, err = fetch_bytes(f"{base}/big", urllib_transport, max_bytes=1024)
        assert data is None and "cap" in err
        assert fetch_bytes(f"{base}/gone", urllib_transport)[1] == "http 404"
    finally:
        srv.shutdown()


def test_urllib_transport_rejects_non_http_schemes():
    """A hostile URL column (file://, ftp://, data:) must not reach the
    default opener — local-file disclosure via the dataset. The fetcher maps
    the transport's ValueError to a per-row error."""
    from lantern_extras_spark.multimodal.media import fetch_bytes, urllib_transport

    for url in ("file:///etc/hosts", "ftp://example.com/x", "data:text/plain,hi"):
        data, err = fetch_bytes(url, urllib_transport)
        assert data is None and "unsupported URL scheme" in err


def test_fetch_bytes_plumbs_max_bytes_to_three_arg_transport():
    """A transport accepting (url, timeout_s, max_bytes) receives the CALLER's
    cap, so raising max_bytes above the module default cannot silently
    truncate the payload behind a passing size check."""
    from lantern_extras_spark.multimodal.media import FETCH_MAX_BYTES, fetch_bytes

    seen = {}

    def transport(url, timeout_s, max_bytes):
        seen["max_bytes"] = max_bytes
        return 200, b"x" * 10, None

    big_cap = FETCH_MAX_BYTES * 2
    data, err = fetch_bytes("http://ok/x", transport, max_bytes=big_cap)
    assert err is None and data == b"x" * 10
    assert seen["max_bytes"] == big_cap


# ---------------------------------------------------------------------------
# CLIP preprocessing (reference process_image_clip, ort_runtime.rs:608-645):
# Catmull-Rom resize to 224², u8 round-trip, (px/255 − mean)/std, and the
# reference's width-major (C, W, H) tensor layout, all pinned numerically.
# ---------------------------------------------------------------------------

def test_catmull_rom_kernel_values():
    from lantern_extras_spark.multimodal.media import _catmull_rom

    assert _catmull_rom(0.0) == 1.0
    assert _catmull_rom(1.0) == 0.0
    assert _catmull_rom(2.0) == 0.0
    assert _catmull_rom(2.5) == 0.0
    # interior value: 1.5·0.125 − 2.5·0.25 + 1 = 0.5625
    np.testing.assert_allclose(_catmull_rom(0.5), 0.5625)
    # negative lobe between 1 and 2 (sharpening — what distinguishes this
    # from bilinear): −0.5·3.375 + 2.5·2.25 − 6 + 2 = −0.0625
    np.testing.assert_allclose(_catmull_rom(1.5), -0.0625)
    np.testing.assert_allclose(_catmull_rom(-0.5), 0.5625)  # even symmetry


def test_resize_identity_when_same_size():
    from lantern_extras_spark.multimodal.media import resize_catmull_rom

    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (8, 6, 3)).astype(np.float64)
    out = resize_catmull_rom(img, 8, 6)
    np.testing.assert_allclose(out, img, atol=1e-9)


def test_resize_preserves_constant_images():
    """Row-normalized weights ⇒ flat fields stay flat at any scale factor."""
    from lantern_extras_spark.multimodal.media import resize_catmull_rom

    img = np.full((50, 30, 3), 137.0)
    for h, w in ((224, 224), (7, 13), (100, 3)):
        out = resize_catmull_rom(img, h, w)
        np.testing.assert_allclose(out, 137.0, atol=1e-9)


def test_resize_downscale_mass_and_phase():
    """2× downscale of a row-alternating pattern: the normalized 4-tap
    Catmull-Rom window preserves total mass (mean stays 50) but keeps phase —
    output row 0, centered nearer the 100-rows, exceeds row 1 (a box filter
    would flatten both to exactly 50; Catmull-Rom's sharpening must not)."""
    from lantern_extras_spark.multimodal.media import resize_catmull_rom

    img = np.zeros((4, 4, 1))
    img[::2, :, 0] = 100.0  # rows alternate 100, 0
    out = resize_catmull_rom(img, 2, 4)[:, :, 0]
    np.testing.assert_allclose(out.mean(axis=0), 50.0, atol=1e-9)
    assert np.all(out[0] > out[1])


def test_clip_preprocess_normalization_and_shape():
    from lantern_extras_spark.multimodal.media import CLIP_MEAN, CLIP_STD, clip_preprocess

    img = np.zeros((10, 10, 3), dtype=np.uint8)
    out = clip_preprocess(img, vision_size=4)
    assert out.shape == (3, 4, 4) and out.dtype == np.float32
    for c in range(3):
        np.testing.assert_allclose(
            out[c], (0.0 - CLIP_MEAN[c]) / CLIP_STD[c], rtol=1e-6
        )
    white = clip_preprocess(np.full((10, 10, 3), 255, dtype=np.uint8), vision_size=4)
    for c in range(3):
        np.testing.assert_allclose(
            white[c], (1.0 - CLIP_MEAN[c]) / CLIP_STD[c], rtol=1e-6
        )


def test_clip_preprocess_width_major_layout():
    """The reference writes pixels[[n, c, x, y]] with x = COLUMN — its tensor
    is (C, W, H). A half-black/half-white vertical split must land on the
    FIRST axis of the (W, H) plane."""
    from lantern_extras_spark.multimodal.media import CLIP_MEAN, CLIP_STD, clip_preprocess

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, 4:, :] = 255  # right half white (columns 4-7)
    out = clip_preprocess(img, vision_size=8)
    lo = (0.0 - CLIP_MEAN[0]) / CLIP_STD[0]
    hi = (1.0 - CLIP_MEAN[0]) / CLIP_STD[0]
    np.testing.assert_allclose(out[0, 0, :], lo, rtol=1e-6)  # x=0 → left (black)
    np.testing.assert_allclose(out[0, 7, :], hi, rtol=1e-6)  # x=7 → right (white)


def test_clip_preprocess_u8_roundtrip_before_normalize():
    """resize_exact returns a u8 image, so filtered floats hit the integer
    grid BEFORE /255: every output must equal (k/255 − mean)/std for integer
    k — no intermediate-float leakage."""
    from lantern_extras_spark.multimodal.media import CLIP_MEAN, CLIP_STD, clip_preprocess

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (17, 11, 3)).astype(np.uint8)
    out = clip_preprocess(img, vision_size=5).astype(np.float64)
    for c in range(3):
        k = out[c] * CLIP_STD[c] + CLIP_MEAN[c]
        k255 = k * 255.0
        np.testing.assert_allclose(k255, np.rint(k255), atol=1e-4)


def test_clip_pixel_batch_none_slots_stay_zero():
    from lantern_extras_spark.multimodal.media import clip_pixel_batch

    imgs = [np.full((6, 6, 3), 255, dtype=np.uint8), None]
    out = clip_pixel_batch(imgs, vision_size=4)
    assert out.shape == (2, 3, 4, 4)
    assert np.all(out[1] == 0.0)
    assert np.all(out[0] != 0.0)


def test_clip_preprocess_rejects_non_rgb():
    from lantern_extras_spark.multimodal.media import clip_preprocess

    with pytest.raises(ValueError, match="H, W, 3"):
        clip_preprocess(np.zeros((5, 5), dtype=np.uint8))


# ---------------------------------------------------------------------------
# Codec-free decoders: PPM/PGM/BMP and PNG (pure numpy + stdlib zlib) feeding
# the bytes→feature path end to end
# ---------------------------------------------------------------------------

def _ppm_p6(img):
    import numpy as np
    arr = np.asarray(img, dtype=np.uint8)
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _bmp24(img, top_down=False):
    """Minimal uncompressed 24-bit BMP encoder (BITMAPINFOHEADER, BI_RGB)."""
    import struct
    import numpy as np
    arr = np.asarray(img, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = arr if top_down else arr[::-1]
    raster = b"".join(
        rows[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3) for y in range(h)
    )
    height = -h if top_down else h
    info = struct.pack("<IiiHHIIiiII", 40, w, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    file_header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40)
    return file_header + info + raster


def test_decode_ppm_p6_p3_p5_roundtrip():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_ppm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(_ppm_p6(img)), img)
    # P3 ascii with a header comment
    flat = " ".join(str(v) for v in img.reshape(-1))
    p3 = f"P3\n# comment\n4 5\n255\n{flat}\n".encode()
    assert np.array_equal(decode_ppm(p3), img)
    # P5 grayscale replicates across channels
    gray = rng.integers(0, 256, size=(3, 2), dtype=np.uint8)
    p5 = b"P5\n2 3\n255\n" + gray.tobytes()
    got = decode_ppm(p5)
    assert got.shape == (3, 2, 3) and np.array_equal(got[:, :, 0], gray)
    assert np.array_equal(got[:, :, 1], got[:, :, 2])
    # maxval rescaling: sample 50 of maxval 100 -> 127
    one = b"P6\n1 1\n100\n" + bytes([50, 0, 100])
    assert decode_ppm(one).tolist() == [[[127, 0, 255]]]
    import pytest as _pt
    with _pt.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n4 5\n255\n" + img.tobytes()[:-1])
    with _pt.raises(ValueError, match="netpbm"):
        decode_ppm(b"P7\nnope")
    with _pt.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_decode_bmp_24bit_padding_and_orientation():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_bmp

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)  # w=3 -> 9B row, 3B pad
    assert np.array_equal(decode_bmp(_bmp24(img)), img)
    assert np.array_equal(decode_bmp(_bmp24(img, top_down=True)), img)
    import pytest as _pt
    with _pt.raises(ValueError, match="unsupported BMP"):
        bad = bytearray(_bmp24(img)); bad[28] = 8  # bpp=8 (palette)
        decode_bmp(bytes(bad))
    with _pt.raises(ValueError, match="truncated"):
        decode_bmp(_bmp24(img)[:-4])


def test_decode_image_bytes_dispatch():
    import numpy as np
    import pytest as _pt
    from lantern_extras_spark.multimodal.media import decode_image_bytes

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    assert decode_image_bytes(_ppm_p6(img)).shape == (2, 2, 3)
    assert decode_image_bytes(_bmp24(img)).shape == (2, 2, 3)
    # PNG (r8), baseline JPEG (r10) and GIF (r10) decode for real —
    # malformed payloads are ValueErrors from the decoders, not env gates;
    # NO image format is gated anymore
    with _pt.raises(ValueError):
        decode_image_bytes(b"\xff\xd8\xff\xe0fakejpeg")
    with _pt.raises(ValueError):
        decode_image_bytes(b"\x89PNG\r\n\x1a\nfakepng")
    with _pt.raises(ValueError):
        decode_image_bytes(b"GIF89a" + b"\x00" * 16)
    with _pt.raises(ValueError, match="unrecognized"):
        decode_image_bytes(b"????junk")


def _png(img, color_type=2, filters=None, palette=None):
    """Test-fixture PNG ENCODER (pure stdlib): applies the FORWARD scanline
    filter per row so decode_png must invert it exactly. img is (H, W, C)
    uint8 with C matching color_type (3 for RGB, 1 gray/palette-index,
    2 gray+alpha, 4 RGBA)."""
    import struct
    import zlib

    import numpy as np

    h, w, c = img.shape
    filters = filters if filters is not None else [0] * h
    bpp = c
    flat = img.reshape(h, w * c).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        cur = flat[y]
        f = filters[y]
        if f == 0:
            enc = cur
        elif f == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = (cur - left) & 255
        elif f == 2:
            enc = (cur - prev) & 255
        elif f == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            enc = (cur - (left + prev) // 2) & 255
        elif f == 4:
            enc = np.empty(w * c, dtype=np.int64)
            for x in range(w * c):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (cur[x] - pred) & 255
        else:
            raise AssertionError(f)
        raw.append(f)
        raw += bytes(int(v) & 255 for v in enc)
        prev = cur

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(int(v) for v in np.asarray(palette).ravel()))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def test_decode_png_all_filters_pixel_exact():
    """Every scanline filter (None/Sub/Up/Average/Paeth) must invert exactly;
    the decoded pixels must equal the PPM path's on the same image."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_image_bytes, decode_png

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 4, 3), dtype=np.uint8)
    got = decode_png(_png(img, filters=[0, 1, 2, 3, 4]))
    assert np.array_equal(got, img)
    # pixel parity with the independent netpbm decoder
    assert np.array_equal(got, decode_image_bytes(_ppm_p6(img)))
    # dispatch routes PNG to the real decoder now
    assert np.array_equal(decode_image_bytes(_png(img)), img)


def test_decode_png_color_types():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_png

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(3, 5, 1), dtype=np.uint8)
    got = decode_png(_png(gray, color_type=0, filters=[1, 4, 2]))
    assert np.array_equal(got, gray.repeat(3, axis=2))
    ga = rng.randint(0, 256, size=(2, 3, 2), dtype=np.uint8)
    got = decode_png(_png(ga, color_type=4, filters=[3, 4]))
    assert np.array_equal(got, ga[:, :, 0:1].repeat(3, axis=2))  # alpha dropped
    rgba = rng.randint(0, 256, size=(2, 2, 4), dtype=np.uint8)
    got = decode_png(_png(rgba, color_type=6, filters=[4, 1]))
    assert np.array_equal(got, rgba[:, :, :3])
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 9, 9]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 3]], dtype=np.uint8).reshape(2, 2, 1)
    got = decode_png(_png(idx, color_type=3, palette=pal))
    assert np.array_equal(got, pal[idx[:, :, 0]])


def test_decode_png_rejects_unsupported():
    import struct
    import zlib

    import numpy as np
    import pytest as _pt
    from lantern_extras_spark.multimodal.media import decode_png

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _png(img)

    def patch_ihdr(**kw):
        w, h, depth, color, comp, filt, inter = 2, 2, 8, 2, 0, 0, 0
        vals = dict(w=w, h=h, depth=depth, color=color, comp=comp,
                    filt=filt, inter=inter)
        vals.update(kw)
        ihdr = struct.pack(">IIBBBBB", vals["w"], vals["h"], vals["depth"],
                           vals["color"], vals["comp"], vals["filt"], vals["inter"])
        body = (struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
        return good[:8] + body + good[8 + 12 + 13:]

    with _pt.raises(ValueError, match="bit depth"):
        decode_png(patch_ihdr(depth=16))
    with _pt.raises(ValueError, match="interlace"):
        decode_png(patch_ihdr(inter=1))
    with _pt.raises(ValueError, match="color type"):
        decode_png(patch_ihdr(color=7))
    with _pt.raises(ValueError, match="truncated PNG scanline"):
        decode_png(patch_ihdr(h=99))
    with _pt.raises(ValueError, match="PLTE"):
        decode_png(patch_ihdr(color=3))
    with _pt.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n")  # no chunks at all


def test_clip_pooled_feature_golden():
    """White image: preprocess yields per-channel constants (1-mean)/std in
    (C, W, H) layout, so dim=3 pooling returns exactly those constants."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import (
        CLIP_MEAN, CLIP_STD, clip_pooled_feature,
    )

    white = np.full((10, 8, 3), 255, dtype=np.uint8)
    got = clip_pooled_feature(white, dim=3, vision_size=4)
    want = [(1.0 - m) / s for m, s in zip(CLIP_MEAN, CLIP_STD)]
    assert np.allclose(got, want, atol=1e-6)
    import pytest as _pt
    with _pt.raises(ValueError, match="dim"):
        clip_pooled_feature(white, dim=0)


def test_decode_image_features_numpy_end_to_end(spark):
    """The un-gated X3 path: bytes → decode (PPM/BMP) → CLIP preprocess →
    pooled feature inside mapInPandas, gated codecs and junk → sentinel."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import (
        clip_pooled_feature, decode_image_bytes, decode_image_features,
    )

    rng = np.random.default_rng(3)
    ppm_img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    bmp_img = rng.integers(0, 256, size=(4, 7, 3), dtype=np.uint8)
    rows = [(1, bytearray(_ppm_p6(ppm_img))), (2, bytearray(_bmp24(bmp_img))),
            (3, bytearray(b"\xff\xd8\xff\xe0jpeg")), (4, None)]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    out = {r["media_id"]: r["feature"]
           for r in decode_image_features(df, dim=8, decoder="numpy").collect()}
    for mid, data in ((1, _ppm_p6(ppm_img)), (2, _bmp24(bmp_img))):
        want = clip_pooled_feature(decode_image_bytes(data), dim=8)
        assert np.allclose(out[mid], want, atol=1e-6), mid
    assert out[3] == [-1.0] * 8        # malformed jpeg -> sentinel
    assert out[4] == [-1.0] * 8        # null media -> sentinel


# ---------------------------------------------------------------------------
# Differential fuzz: PNG encode -> decode round-trip (hypothesis)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    h=st.integers(1, 9),
    w=st.integers(1, 9),
    color=st.sampled_from([0, 2, 4, 6]),
    seed=st.integers(0, 2**31 - 1),
    data=st.data(),
)
def test_decode_png_roundtrip_fuzz(h, w, color, seed, data):
    """Random shapes × random pixels × random per-row filters (incl. the
    sequential Average/Paeth recurrences at width 1 and channel counts
    1/2/3/4) must round-trip pixel-exact through the hand-written decoder."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_png

    c = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h), label="filters"
    )
    got = decode_png(_png(img, color_type=color, filters=filters))
    if color == 2:
        want = img
    elif color == 6:
        want = img[:, :, :3]
    else:  # gray / gray+alpha replicate channel 0
        want = img[:, :, 0:1].repeat(3, axis=2)
    assert np.array_equal(got, want), (h, w, color, filters)


# ---------------------------------------------------------------------------
# Baseline JPEG: independent test encoder + spec-grounded goldens (r10)
# ---------------------------------------------------------------------------


def _jpeg_fdct_block(block):
    """Forward 8x8 DCT-II via the DIRECT T.81 A.3.3 double sum (independent
    of the decoder's matrix-product IDCT)."""
    import math

    import numpy as np

    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
            cv = 1.0 / math.sqrt(2.0) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += (
                        block[x, y]
                        * math.cos((2 * x + 1) * u * math.pi / 16.0)
                        * math.cos((2 * y + 1) * v * math.pi / 16.0)
                    )
            out[u, v] = 0.25 * cu * cv * s
    return out


def _jpeg_idct_block_ref(coef):
    """Inverse 8x8 DCT via the direct double sum (the test's reference IDCT,
    independent of the decoder's matrix product)."""
    import math

    import numpy as np

    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
                    cv = 1.0 / math.sqrt(2.0) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u, v]
                        * math.cos((2 * x + 1) * u * math.pi / 16.0)
                        * math.cos((2 * y + 1) * v * math.pi / 16.0)
                    )
            out[x, y] = 0.25 * s
    return out


_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegWriter:
    """MSB-first bit writer with 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, value, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.bits(1, 1)  # pad with 1s per spec
        return bytes(self.out)


def _jpeg_fixed_tables():
    """Fixed-length canonical Huffman tables: DC symbols 0..11 at 4 bits
    (codes 0..11), AC symbols [EOB, ZRL, all (r,s) r0..15 s1..10] at 8 bits
    (codes 0..161). Valid DHTs (all-ones code unused in both)."""
    dc_syms = list(range(12))
    # EOBn symbols (r<<4, r=1..14) are progressive-only; harmless extras in
    # the baseline table (the encoder simply never emits them there)
    ac_syms = (
        [0x00, 0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
        + [r << 4 for r in range(1, 15)]
    )
    dc_codes = {sym: (i, 4) for i, sym in enumerate(dc_syms)}
    ac_codes = {sym: (i, 8) for i, sym in enumerate(ac_syms)}
    return dc_syms, ac_syms, dc_codes, ac_codes


def _jpeg_category(v):
    nbits = int(v).bit_length() if v >= 0 else int(-v).bit_length()
    extra = v if v >= 0 else v + (1 << nbits) - 1
    return nbits, extra


def _jpeg_prepare(img, sampling, qy, qc):
    """Shared fixture prep: FDCT+quant coefficient planes, quant tables,
    geometry, and the independent reference decode (expected pixels)."""
    import numpy as np

    img = np.asarray(img, dtype=np.float64)
    gray = sampling == "gray"
    H, W = img.shape[:2]
    if gray:
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0}]
        planes_full = [img[:, :, 0]]
        qt = {0: float(qy)}
    else:
        R, G, B = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        Y = 0.299 * R + 0.587 * G + 0.114 * B
        Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128.0
        Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128.0
        f = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[sampling]
        comps = [
            {"id": 1, "h": f[0], "v": f[1], "tq": 0},
            {"id": 2, "h": 1, "v": 1, "tq": 1},
            {"id": 3, "h": 1, "v": 1, "tq": 1},
        ]
        planes_full = [Y, Cb, Cr]
        qt = {0: float(qy), 1: float(qc)}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-W // (8 * hmax))
    mcuy = -(-H // (8 * vmax))
    fullh, fullw = mcuy * 8 * vmax, mcux * 8 * hmax

    qplanes = []
    for ci, c in enumerate(comps):
        p = planes_full[ci]
        pad = np.pad(p, ((0, fullh - H), (0, fullw - W)), mode="edge")
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:  # box-mean subsample
            pad = pad.reshape(fullh // ry, ry, fullw // rx, rx).mean(axis=(1, 3))
        ph, pw = pad.shape
        qp = np.zeros((ph // 8, pw // 8, 8, 8), dtype=np.int64)
        for by in range(ph // 8):
            for bx in range(pw // 8):
                blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                qp[by, bx] = np.rint(_jpeg_fdct_block(blk) / qt[c["tq"]]).astype(
                    np.int64
                )
        qplanes.append(qp)

    # --- independent reference decode from the quantized coefficients ---
    rec = []
    for ci, c in enumerate(comps):
        qp = qplanes[ci]
        ph, pw = qp.shape[0] * 8, qp.shape[1] * 8
        plane = np.zeros((ph, pw))
        for by in range(qp.shape[0]):
            for bx in range(qp.shape[1]):
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    _jpeg_idct_block_ref(qp[by, bx] * qt[c["tq"]]) + 128.0
                )
        plane = np.repeat(plane, vmax // c["v"], axis=0)
        plane = np.repeat(plane, hmax // c["h"], axis=1)
        rec.append(plane[:H, :W])
    if gray:
        g = np.clip(np.rint(rec[0]), 0, 255).astype(np.uint8)
        expected = g[:, :, None].repeat(3, axis=2)
    else:
        Yd, Cbd, Crd = rec
        r = Yd + 1.402 * (Crd - 128.0)
        g = Yd - 0.344136 * (Cbd - 128.0) - 0.714136 * (Crd - 128.0)
        b = Yd + 1.772 * (Cbd - 128.0)
        expected = np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(
            np.uint8
        )
    return comps, qplanes, qt, H, W, hmax, vmax, mcux, mcuy, expected


def _jpeg_headers(comps, qt, H, W, sof_marker):
    """SOI + DQT + SOF + DHT header bytes shared by both fixture encoders."""
    import struct

    dc_syms, ac_syms, _dc, _ac = _jpeg_fixed_tables()
    out = bytearray(b"\xff\xd8")
    dqt = bytearray()
    for tid in sorted(qt):
        zz = bytes([int(qt[tid])] * 64)
        dqt += bytes([tid]) + zz
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(dqt)) + dqt
    sof = bytearray([8]) + struct.pack(">HH", H, W) + bytes([len(comps)])
    for c in comps:
        sof += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    dht = bytearray()
    for tclass, syms in ((0, dc_syms), (1, ac_syms)):
        counts = [0] * 16
        counts[(4 if tclass == 0 else 8) - 1] = len(syms)
        dht += bytes([tclass << 4]) + bytes(counts) + bytes(syms)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    return out


def _jpeg(img, sampling="444", qy=16, qc=17, dri=0):
    """Test-fixture BASELINE JPEG ENCODER, independent of the package
    decoder: direct-sum FDCT, flat quant tables (qy luma / qc chroma),
    fixed-length canonical Huffman tables, optional restart markers.
    Returns (jpeg_bytes, expected_rgb) where expected_rgb is computed by an
    independent reference decode (dequant -> direct-sum IDCT -> nearest
    upsample -> JFIF YCbCr->RGB) from the quantized coefficients."""
    import struct

    comps, qplanes, qt, H, W, hmax, vmax, mcux, mcuy, expected = _jpeg_prepare(
        img, sampling, qy, qc
    )
    dc_syms, ac_syms, dc_codes, ac_codes = _jpeg_fixed_tables()
    out = bytearray(_jpeg_headers(comps, qt, H, W, b"\xff\xc0"))
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytearray([len(comps)])
    for c in comps:
        sos += bytes([c["id"], 0x00])  # dc table 0, ac table 0
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    wtr = _JpegWriter()
    dc_pred = [0] * len(comps)
    rst = 0
    for m in range(mcux * mcuy):
        if dri and m and m % dri == 0:
            out += wtr.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            wtr = _JpegWriter()
            dc_pred = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, c in enumerate(comps):
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk = qplanes[ci][my * c["v"] + by, mx * c["h"] + bx]
                    flat = blk.reshape(64)[_JPEG_ZZ]
                    diff = int(flat[0]) - dc_pred[ci]
                    dc_pred[ci] = int(flat[0])
                    nbits, extra = _jpeg_category(diff)
                    code, ln = dc_codes[nbits]
                    wtr.bits(code, ln)
                    if nbits:
                        wtr.bits(extra, nbits)
                    run = 0
                    for k in range(1, 64):
                        v = int(flat[k])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            code, ln = ac_codes[0xF0]
                            wtr.bits(code, ln)
                            run -= 16
                        nbits, extra = _jpeg_category(v)
                        code, ln = ac_codes[(run << 4) | nbits]
                        wtr.bits(code, ln)
                        wtr.bits(extra, nbits)
                        run = 0
                    if run:
                        code, ln = ac_codes[0x00]
                        wtr.bits(code, ln)
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out), expected


def _jpeg_progressive(img, sampling="444", qy=16, qc=17, bands=((1, 5), (6, 63))):
    """Test-fixture PROGRESSIVE JPEG ENCODER (SOF2), independent of the
    package decoder — T.81 Annex G / the canonical open-source encoder
    structure: interleaved DC first (Al=1) + DC refinement, then per
    component per spectral band an AC first scan at Al=2 followed by two
    refinement passes (2→1, 1→0). The full script recovers EXACT
    coefficients, so expected pixels equal the baseline reference decode
    from `_jpeg_prepare`. Exercises spectral selection, successive
    approximation, EOB-run coding (incl. correction-bit buffering), and
    ZRL-in-refinement."""
    import struct

    import numpy as np

    comps, qplanes, qt, H, W, hmax, vmax, mcux, mcuy, expected = _jpeg_prepare(
        img, sampling, qy, qc
    )
    _dc_syms, _ac_syms, dc_codes, ac_codes = _jpeg_fixed_tables()
    out = bytearray(_jpeg_headers(comps, qt, H, W, b"\xff\xc2"))

    zz_planes = []  # per comp: (nby, nbx, 64) zigzag-ordered ints
    for ci in range(len(comps)):
        qp = qplanes[ci]
        nby, nbx = qp.shape[:2]
        z = np.zeros((nby, nbx, 64), dtype=np.int64)
        for by in range(nby):
            for bx in range(nbx):
                z[by, bx] = qp[by, bx].reshape(64)[_JPEG_ZZ]
        zz_planes.append(z)

    def sos(scan_comps, ss, se, ah, al):
        b = bytearray([len(scan_comps)])
        for ci in scan_comps:
            b += bytes([comps[ci]["id"], 0x00])
        b += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(b)) + bytes(b)

    def comp_grid(ci):
        c = comps[ci]
        cw = -(-W * c["h"] // hmax)
        ch = -(-H * c["v"] // vmax)
        return -(-ch // 8), -(-cw // 8)

    # --- scan emitters -----------------------------------------------------
    def dc_first(wtr, al):
        pred = [0] * len(comps)
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        v = int(zz_planes[ci][my * c["v"] + by, mx * c["h"] + bx, 0]) >> al
                        diff = v - pred[ci]
                        pred[ci] = v
                        nbits, extra = _jpeg_category(diff)
                        code, ln = dc_codes[nbits]
                        wtr.bits(code, ln)
                        if nbits:
                            wtr.bits(extra, nbits)

    def dc_refine(wtr, al):
        for m in range(mcux * mcuy):
            my, mx = divmod(m, mcux)
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        v = int(zz_planes[ci][my * c["v"] + by, mx * c["h"] + bx, 0])
                        wtr.bits((v >> al) & 1, 1)

    def ac_first(wtr, ci, ss, se, al):
        nby, nbx = comp_grid(ci)
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun == 0:
                return
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            wtr.bits(code, ln)
            if r:
                wtr.bits(eobrun & ((1 << r) - 1), r)
            eobrun = 0

        for by in range(nby):
            for bx in range(nbx):
                flat = zz_planes[ci][by, bx]
                r = 0
                for k in range(ss, se + 1):
                    v = int(flat[k])
                    a = abs(v) >> al  # AC point transform: magnitude shift
                    if a == 0:
                        r += 1
                        continue
                    flush_eob()
                    while r > 15:
                        code, ln = ac_codes[0xF0]
                        wtr.bits(code, ln)
                        r -= 16
                    sv = a if v >= 0 else -a
                    nbits, extra = _jpeg_category(sv)
                    code, ln = ac_codes[(r << 4) | nbits]
                    wtr.bits(code, ln)
                    wtr.bits(extra, nbits)
                    r = 0
                if r > 0:
                    eobrun += 1  # trailing zeros fold into the EOB run
        flush_eob()

    def ac_refine(wtr, ci, ss, se, ah, al):
        # the canonical correction-bit-buffering structure (T.81 fig. G.7)
        nby, nbx = comp_grid(ci)
        eobrun = 0
        be_bits: list[int] = []

        def flush_eob():
            nonlocal eobrun, be_bits
            if eobrun == 0:
                return
            r = eobrun.bit_length() - 1
            code, ln = ac_codes[r << 4]
            wtr.bits(code, ln)
            if r:
                wtr.bits(eobrun & ((1 << r) - 1), r)
            for b in be_bits:
                wtr.bits(b, 1)
            eobrun, be_bits = 0, []

        for by in range(nby):
            for bx in range(nbx):
                flat = zz_planes[ci][by, bx]
                absv = [abs(int(flat[k])) >> al for k in range(ss, se + 1)]
                eob = -1  # position (relative) of last NEWLY-nonzero coef
                for i, t in enumerate(absv):
                    if t == 1:
                        eob = i
                r = 0
                br: list[int] = []
                for i, t in enumerate(absv):
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and i <= eob:  # ZRL only before a future new coef
                        flush_eob()
                        code, ln = ac_codes[0xF0]
                        wtr.bits(code, ln)
                        r -= 16
                        for b in br:
                            wtr.bits(b, 1)
                        br = []
                    if t > 1:  # history coefficient: one correction bit
                        br.append(t & 1)
                        continue
                    flush_eob()
                    code, ln = ac_codes[(r << 4) | 1]
                    wtr.bits(code, ln)
                    wtr.bits(1 if int(flat[ss + i]) >= 0 else 0, 1)
                    for b in br:
                        wtr.bits(b, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    be_bits.extend(br)
        flush_eob()

    # --- the scan script ----------------------------------------------------
    all_ci = list(range(len(comps)))
    wtr = _JpegWriter()
    out += sos(all_ci, 0, 0, 0, 1)
    dc_first(wtr, 1)
    out += wtr.flush()
    for ci in all_ci:
        for ss, se in bands:
            wtr = _JpegWriter()
            out += sos([ci], ss, se, 0, 2)
            ac_first(wtr, ci, ss, se, 2)
            out += wtr.flush()
    wtr = _JpegWriter()
    out += sos(all_ci, 0, 0, 1, 0)
    dc_refine(wtr, 0)
    out += wtr.flush()
    for ah in (2, 1):
        for ci in all_ci:
            for ss, se in bands:
                wtr = _JpegWriter()
                out += sos([ci], ss, se, ah, ah - 1)
                ac_refine(wtr, ci, ss, se, ah, ah - 1)
                out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out), expected


def test_decode_jpeg_dc_only_analytic():
    """Constant gray image: every AC is 0 and the DC path is analytically
    exact (coef00 = 8*(v-128), Q=16 divides evenly) — spec-grounded pixel
    golden independent of BOTH implementations' DCT code."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    img = np.full((8, 8, 1), 180, dtype=np.uint8)
    data, expected = _jpeg(img, sampling="gray", qy=16)
    got = decode_jpeg(data)
    assert np.array_equal(got, np.full((8, 8, 3), 180, dtype=np.uint8))
    assert np.array_equal(got, expected)


@pytest.mark.parametrize("sampling", ["gray", "444", "422", "420"])
def test_decode_jpeg_matches_reference_decode(sampling):
    """Random image through the independent test encoder: the package
    decoder must reproduce the reference decode (direct-sum IDCT) within
    1 LSB (the two float IDCT implementations may round .5 differently)."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, size=(19, 22, 3), dtype=np.uint8)
    data, expected = _jpeg(img, sampling=sampling)
    got = decode_jpeg(data)
    assert got.shape == expected.shape == (19, 22, 3)
    diff = np.abs(got.astype(int) - expected.astype(int))
    assert diff.max() <= 1, (sampling, diff.max(), (diff > 0).mean())
    assert (diff > 0).mean() < 0.01  # <1% of pixels on the .5 boundary


def test_decode_jpeg_restart_markers():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(24, 40, 3), dtype=np.uint8)
    data, expected = _jpeg(img, sampling="420", dri=2)
    assert b"\xff\xd0" in data or b"\xff\xd1" in data  # RSTn actually emitted
    got = decode_jpeg(data)
    assert np.abs(got.astype(int) - expected.astype(int)).max() <= 1


def test_decode_jpeg_rejects_unsupported():
    import numpy as np
    import pytest as _pt
    from lantern_extras_spark.multimodal.media import decode_jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data, _ = _jpeg(img)
    with _pt.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x00" + data)
    # flip SOF0 to SOF3 (lossless — still unsupported; SOF2 progressive is
    # decoded for real since r11)
    i = data.index(b"\xff\xc0")
    with _pt.raises(ValueError, match="baseline"):
        decode_jpeg(data[:i] + b"\xff\xc3" + data[i + 2:])
    # SOF2 with a baseline-shaped scan (Ss=0, Se=63) is malformed progressive
    with _pt.raises(ValueError, match="Se=0"):
        decode_jpeg(data[:i] + b"\xff\xc2" + data[i + 2:])
    with _pt.raises(ValueError, match="SOF/SOS"):
        decode_jpeg(data[: data.index(b"\xff\xda")] + b"\xff\xd9")
    with _pt.raises(ValueError):
        decode_jpeg(data[:-20])  # truncated entropy data


def test_decode_image_features_jpeg_end_to_end(spark):
    """r10: the jpeg branch of X3 is REAL now — bytes -> decode_jpeg ->
    CLIP preprocess -> pooled feature inside mapInPandas, no env gate."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import (
        clip_pooled_feature, decode_image_bytes, decode_image_features,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(16, 16, 3), dtype=np.uint8)
    data, _ = _jpeg(img, sampling="420")
    df = spark.createDataFrame([(1, bytearray(data))], "media_id long, media binary")
    out = decode_image_features(df, dim=8, decoder="numpy").first()["feature"]
    want = clip_pooled_feature(decode_image_bytes(data), dim=8)
    assert np.allclose(out, want, atol=1e-6)
    assert out != [-1.0] * 8


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    sampling=st.sampled_from(["gray", "444", "422", "420"]),
    seed=st.integers(0, 2**31 - 1),
    dri=st.sampled_from([0, 1, 3]),
)
def test_decode_jpeg_roundtrip_fuzz(h, w, sampling, seed, dri):
    """Random shapes x pixels x subsampling x restart intervals must decode
    within 1 LSB of the independent reference decode (odd dimensions
    exercise the pad-and-crop path; dri=1 restarts every MCU)."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    data, expected = _jpeg(img, sampling=sampling, dri=dri)
    got = decode_jpeg(data)
    assert got.shape == expected.shape
    assert np.abs(got.astype(int) - expected.astype(int)).max() <= 1


def test_decode_jpeg_committed_golden_fixture(spark):
    """COMMITTED baseline-JPEG fixture (tests/data/golden_420.jpg, 4:2:0,
    restart interval 3) + its expected pixels (generated once by the
    independent reference decode in _jpeg and committed as .npy): the
    decoder must reproduce them, and decode_image_features must run the
    jpeg end to end with NO env gate (r9 verdict #3 done-condition)."""
    import os

    import numpy as np
    from lantern_extras_spark.multimodal.media import (
        clip_pooled_feature, decode_image_features, decode_jpeg,
    )

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "data", "golden_420.jpg"), "rb") as f:
        data = f.read()
    expected = np.load(os.path.join(here, "data", "golden_420_pixels.npy"))
    got = decode_jpeg(data)
    assert got.shape == expected.shape == (33, 47, 3)
    assert np.abs(got.astype(int) - expected.astype(int)).max() <= 1
    df = spark.createDataFrame([(1, bytearray(data))], "media_id long, media binary")
    out = decode_image_features(df, dim=8, decoder="numpy").first()["feature"]
    want = clip_pooled_feature(got, dim=8)
    assert np.allclose(out, want, atol=1e-6)
    assert out != [-1.0] * 8


# ---------------------------------------------------------------------------
# GIF: independent LZW encoders (compressing + literal) + goldens (r10)
# ---------------------------------------------------------------------------


class _GifBitWriter:
    """LSB-first code packer with 255-byte sub-block framing."""

    def __init__(self):
        self.acc = 0
        self.n = 0
        self.bytes = bytearray()

    def code(self, value, width):
        self.acc |= value << self.n
        self.n += width
        while self.n >= 8:
            self.bytes.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def finish(self):
        if self.n:
            self.bytes.append(self.acc & 0xFF)
        out = bytearray()
        b = bytes(self.bytes)
        for i in range(0, len(b), 255):
            chunk = b[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)


def _gif_lzw_encode(indices, min_code_size, literal=False):
    """GIF LZW encoder, independent of the package decoder. literal=True
    emits every pixel as a root code with a CLEAR before the dictionary
    could force a width change — a valid (uncompressed-style) stream that
    exercises the decoder's CLEAR handling without dict-growth sync."""
    CLEAR = 1 << min_code_size
    EOI = CLEAR + 1
    w = _GifBitWriter()
    width = min_code_size + 1
    if literal:
        budget = (1 << width) - EOI - 2  # emit CLEAR before width must grow
        w.code(CLEAR, width)
        n = 0
        for px in indices:
            if n >= budget:
                w.code(CLEAR, width)
                n = 0
            w.code(int(px), width)
            n += 1
        w.code(EOI, width)
        return w.finish()
    table = {(i,): i for i in range(CLEAR)}
    next_code = EOI + 1
    w.code(CLEAR, width)
    cur = ()
    for px in indices:
        px = int(px)
        cand = cur + (px,)
        if cand in table:
            cur = cand
            continue
        w.code(table[cur], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            w.code(CLEAR, width)
            table = {(i,): i for i in range(CLEAR)}
            width = min_code_size + 1
            next_code = EOI + 1
        cur = (px,)
    if cur:
        w.code(table[cur], width)
    w.code(EOI, width)
    return w.finish()


def _gif(idx, palette, interlace=False, use_lct=False, screen=None,
         left=0, top=0, bg_idx=0, literal=False, with_gce=False):
    """Test-fixture GIF ENCODER (pure stdlib + the independent LZW above).
    idx: (H, W) palette indices; palette: (N, 3) uint8."""
    import struct

    import numpy as np

    idx = np.asarray(idx)
    h, w = idx.shape
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    bits = max(2, int(np.ceil(np.log2(max(n, 2)))))
    size_field = max(0, int(np.ceil(np.log2(max(n, 2)))) - 1)
    padded = np.zeros((2 << size_field, 3), dtype=np.uint8)
    padded[:n] = palette
    table_bytes = padded.tobytes()
    sw, sh = screen if screen else (w, h)
    out = bytearray(b"GIF89a")
    packed = (0x80 | size_field) if not use_lct else 0x00
    out += struct.pack("<HHBBB", sw, sh, packed, bg_idx, 0)
    if not use_lct:
        out += table_bytes
    if with_gce:  # graphic control extension: must be skipped cleanly
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    rows = idx
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = idx[order]
    ipacked = (0x80 | size_field if use_lct else 0) | (0x40 if interlace else 0)
    out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, ipacked)
    if use_lct:
        out += table_bytes
    out += bytes([bits])
    out += _gif_lzw_encode(rows.reshape(-1), bits, literal=literal)
    out += b"\x3b"
    return bytes(out)


def _rand_gif_case(seed, h, w, ncolors):
    import numpy as np

    rng = np.random.RandomState(seed)
    palette = rng.randint(0, 256, size=(ncolors, 3), dtype=np.uint8)
    idx = rng.randint(0, ncolors, size=(h, w))
    return idx, palette


def test_decode_gif_exact_pixels_compressed_and_literal():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_gif, decode_image_bytes

    idx, palette = _rand_gif_case(3, 13, 17, 7)
    want = palette[idx]
    for literal in (False, True):
        got = decode_gif(_gif(idx, palette, literal=literal, with_gce=True))
        assert np.array_equal(got, want), f"literal={literal}"
    # dispatch routes GIF to the real decoder
    assert np.array_equal(decode_image_bytes(_gif(idx, palette)), want)


def test_decode_gif_kwkwk_and_width_growth():
    """Runs of one symbol drive the KwKwK code path; > 2^width dictionary
    entries drive width growth — both must decode exactly."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_gif

    idx = np.zeros((20, 40), dtype=np.int64)  # one long run: KwKwK territory
    palette = np.array([[9, 9, 9], [200, 0, 0]], dtype=np.uint8)
    got = decode_gif(_gif(idx, palette))
    assert np.array_equal(got, palette[idx])
    rng = np.random.RandomState(11)
    big = rng.randint(0, 250, size=(40, 60))  # forces many dict entries
    pal = rng.randint(0, 256, size=(250, 3), dtype=np.uint8)
    assert np.array_equal(decode_gif(_gif(big, pal)), pal[big])


def test_decode_gif_interlace_subrect_lct():
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_gif

    idx, palette = _rand_gif_case(7, 16, 9, 16)
    got = decode_gif(_gif(idx, palette, interlace=True))
    assert np.array_equal(got, palette[idx])
    # sub-rect frame composed on a bg-filled screen, local color table
    sub, pal = _rand_gif_case(9, 4, 5, 8)
    data = _gif(sub, pal, use_lct=True, screen=(12, 10), left=3, top=2)
    got = decode_gif(data)
    assert got.shape == (10, 12, 3)
    assert np.array_equal(got[2:6, 3:8], pal[sub])
    assert np.array_equal(got[0, 0], np.zeros(3))  # no GCT -> black bg


def test_decode_gif_rejects_malformed():
    import numpy as np
    import pytest as _pt
    from lantern_extras_spark.multimodal.media import decode_gif

    idx, palette = _rand_gif_case(5, 4, 4, 4)
    good = _gif(idx, palette)
    with _pt.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + good[6:])
    with _pt.raises(ValueError, match="no image block"):
        decode_gif(good[:13 + 3 * 4] + b"\x3b")
    with _pt.raises(ValueError):
        decode_gif(good[:-8])  # truncated LZW data
    bad = bytearray(good)
    bad[13 + 3 * 4] = 0x99  # unknown block type
    with _pt.raises(ValueError, match="unexpected GIF block"):
        decode_gif(bytes(bad))


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    ncolors=st.sampled_from([2, 3, 4, 16, 60, 256]),
    seed=st.integers(0, 2**31 - 1),
    interlace=st.booleans(),
    literal=st.booleans(),
)
def test_decode_gif_roundtrip_fuzz(h, w, ncolors, seed, interlace, literal):
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_gif

    idx, palette = _rand_gif_case(seed, h, w, ncolors)
    got = decode_gif(_gif(idx, palette, interlace=interlace, literal=literal))
    assert np.array_equal(got, palette[idx]), (h, w, ncolors, interlace, literal)


# ---------------------------------------------------------------------------
# Animated GIF: frame composition and disposal (r10)
# ---------------------------------------------------------------------------


def _gif_anim(frames, palette, screen, bg_idx=0):
    """Multi-frame GIF89a: frames = list of dicts with keys idx ((h,w)
    index array), left, top, disposal (0-3), transparent (index or None)."""
    import struct

    import numpy as np

    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    size_field = max(0, int(np.ceil(np.log2(max(n, 2)))) - 1)
    bits = max(2, int(np.ceil(np.log2(max(n, 2)))))
    padded = np.zeros((2 << size_field, 3), dtype=np.uint8)
    padded[:n] = palette
    sw, sh = screen
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | size_field, bg_idx, 0)
    out += padded.tobytes()
    for f in frames:
        idx = np.asarray(f["idx"])
        h, w = idx.shape
        disposal = f.get("disposal", 0)
        transparent = f.get("transparent")
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        out += bytes([0x21, 0xF9, 0x04, flags, 0x00, 0x00,
                      transparent if transparent is not None else 0, 0x00])
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), w, h, 0
        )
        out += bytes([bits])
        out += _gif_lzw_encode(idx.reshape(-1), bits)
        out += b"\x3b"[:0]  # trailer added once at the end
    out += b"\x3b"
    return bytes(out)


def test_gif_frames_composition_disposals():
    import numpy as np
    from lantern_extras_spark.multimodal.media import _gif_frames

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    full1 = np.full((4, 6), 1)            # red screen
    patch = np.full((2, 2), 2)            # green 2x2 at (1,1)
    patch2 = np.full((2, 2), 3)           # blue 2x2 at (1,3)
    data = _gif_anim(
        [
            {"idx": full1, "disposal": 1},
            {"idx": patch, "left": 1, "top": 1, "disposal": 2},
            {"idx": patch2, "left": 3, "top": 1, "disposal": 0},
        ],
        pal, screen=(6, 4),
    )
    frames = list(_gif_frames(data, max_frames=3))
    assert len(frames) == 3
    # frame 1: all red
    assert np.array_equal(frames[0], np.tile(pal[1], (4, 6, 1)))
    # frame 2: red + green patch at (1,1)
    assert np.array_equal(frames[1][1:3, 1:3], np.tile(pal[2], (2, 2, 1)))
    assert np.array_equal(frames[1][0, :], np.tile(pal[1], (6, 1)))
    # frame 3: disposal=2 restored BG (index 0, black) in the green rect,
    # then blue patch drawn at (1,3)
    assert np.array_equal(frames[2][1:3, 1:3], np.tile(pal[0], (2, 2, 1)))
    assert np.array_equal(frames[2][1:3, 3:5], np.tile(pal[3], (2, 2, 1)))


def test_gif_frames_restore_previous_and_transparency():
    import numpy as np
    from lantern_extras_spark.multimodal.media import _gif_frames

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0]], dtype=np.uint8)
    base = np.full((3, 3), 1)
    overlay = np.full((3, 3), 2)
    # frame2: disposal=3 -> frame3 must see frame1's state again
    trans = np.array([[2, 0, 2], [0, 0, 0], [2, 0, 2]])  # 0 = transparent
    data = _gif_anim(
        [
            {"idx": base, "disposal": 1},
            {"idx": overlay, "disposal": 3},
            {"idx": trans, "transparent": 0},
        ],
        pal, screen=(3, 3),
    )
    f = list(_gif_frames(data, max_frames=3))
    assert np.array_equal(f[1], np.tile(pal[2], (3, 3, 1)))  # overlay shown
    # frame3: restored to base (red), transparent pixels punch through,
    # opaque corners paint green
    assert np.array_equal(f[2][1, 1], pal[1])  # center transparent -> red
    assert np.array_equal(f[2][0, 0], pal[2])  # corner opaque -> green


# ---------------------------------------------------------------------------
# WebP container fixture + magic-number sniff
# ---------------------------------------------------------------------------


def _webp(kind, w, h, alpha=False, anim=False):
    import struct

    if kind == "vp8":
        body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
        chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    elif kind == "vp8l":
        bits = (w - 1) | ((h - 1) << 14) | ((1 << 28) if alpha else 0)
        body = b"\x2f" + struct.pack("<I", bits)
        chunk = b"VP8L" + struct.pack("<I", len(body)) + body + b"\x00"  # pad odd
    else:
        flags = (0x10 if alpha else 0) | (0x02 if anim else 0)
        body = bytes([flags]) + bytes(3) + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
        chunk = b"VP8X" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def test_with_media_metadata_widened_sniff(spark):
    from lantern_extras_spark.multimodal.media import with_media_metadata

    # audio/video payloads carry no label of their own: only image formats
    # route to the decoders, everything else is 'unknown'
    rows = [
        (1, bytearray(_webp("vp8", 2, 2))),
        (2, bytearray(b"RIFF\x00\x00\x00\x00WAVEfmt ")),
        (3, bytearray(b"fLaC" + bytes(8))),
        (4, bytearray(b"OggS" + bytes(24))),
        (5, bytearray(b"\x1a\x45\xdf\xa3" + bytes(8))),
        (6, bytearray(b"\x00\x00\x00\x18ftypisom")),
        (7, bytearray(b"ID3\x04" + bytes(8))),
        (8, bytearray(b"\xff\xfb\x90\x00" + bytes(8))),
        (9, bytearray(b"P6\n1 1\n255\n\x00\x00\x00")),
        (10, bytearray(b"BM" + bytes(12))),
        (11, bytearray(b"????????")),
    ]
    df = spark.createDataFrame(rows, "id long, media binary")
    got = {r["id"]: r["media_format"] for r in with_media_metadata(df).collect()}
    assert got == {1: "webp", 2: "unknown", 3: "unknown", 4: "unknown",
                   5: "unknown", 6: "unknown", 7: "unknown", 8: "unknown",
                   9: "netpbm", 10: "bmp", 11: "unknown"}


# ---------------------------------------------------------------------------
# Perceptual image hashing + banded Hamming near-dup (r10)
# ---------------------------------------------------------------------------


def _noise_ppm(base_px, w=16, h=16, flips=(), phase=0.0):
    """A textured wxh PPM derived from base_px with a few pixels perturbed.
    The texture matters: a flat image puts most DCT coefficients AT the
    median, where single-pixel noise flips bits arbitrarily — natural
    images (what pHash is for) have well-separated low frequencies."""
    import numpy as np

    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    tex = (
        60 * np.sin(r / 3.0 + phase) + 50 * np.cos(c / 2.5 - phase)
        + 30 * np.sin((r + 2 * c) / 5.0 + 2 * phase)
    )
    img = np.clip(
        np.asarray(base_px, dtype=np.float64)[None, None, :] * 0.5 + tex[:, :, None],
        0, 255,
    ).astype(np.uint8)
    for (rr, cc, d) in flips:
        img[rr, cc] = np.clip(img[rr, cc].astype(int) + d, 0, 255)
    return _ppm_p6(img)


@pytest.mark.parametrize("kind", ["phash", "dhash"])
def test_image_phash_properties(kind):
    from lantern_extras_spark.multimodal.media import image_phash_bytes

    a = _noise_ppm((30, 90, 160))
    a2 = _noise_ppm((30, 90, 160), flips=[(3, 3, 6), (10, 12, -5)])  # tiny noise
    b = _noise_ppm((250, 10, 10), phase=2.0)  # structurally different
    ha, ha2, hb = (image_phash_bytes(x, kind=kind) for x in (a, a2, b))
    assert ha == image_phash_bytes(a, kind=kind)  # deterministic
    assert 0 <= ha < (1 << 64)
    d_near = bin(ha ^ ha2).count("1")
    d_far = bin(ha ^ hb).count("1")
    assert d_near <= 6, f"{kind} near distance {d_near}"
    assert d_far > d_near, f"{kind} far {d_far} vs near {d_near}"


def test_hash_neardup_pairs_matches_bruteforce(spark):
    """Banded pairs == brute-force Hamming pairs when the pigeonhole bound
    holds (8 bands > max_distance 6)."""
    import itertools
    import random

    from lantern_extras_spark.operators.dedup import hash_neardup_pairs

    rng = random.Random(7)
    hashes = {}
    base = rng.getrandbits(64)
    for i in range(30):
        if i % 3 == 0:
            v = base
            for _ in range(rng.randrange(0, 8)):  # 0-7 bit flips
                v ^= 1 << rng.randrange(64)
            hashes[i] = v
        else:
            hashes[i] = rng.getrandbits(64)
    signed = {i: (v - (1 << 64) if v >= 1 << 63 else v) for i, v in hashes.items()}
    df = spark.createDataFrame(list(signed.items()), "media_id long, phash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hash_neardup_pairs(df, "phash", max_distance=6).collect()
    }
    want = set()
    for i, j in itertools.combinations(sorted(hashes), 2):
        d = bin(hashes[i] ^ hashes[j]).count("1")
        if d <= 6:
            want.add((i, j, d))
    assert got == want and want  # non-trivial fixture
    with pytest.raises(ValueError, match="pigeonhole"):
        hash_neardup_pairs(df, "phash", band_bits=16, max_distance=6)
    with pytest.raises(ValueError, match="divide"):
        hash_neardup_pairs(df, "phash", band_bits=7)
    # a generous band-frequency cap changes nothing (no key is that hot)
    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hash_neardup_pairs(
            df, "phash", max_distance=6, max_band_freq=100
        ).collect()
    }
    assert capped == want


def test_hash_neardup_band_freq_cap_degenerate(spark):
    """The constant-hash pathology: N blank images → pHash 0 → every row in
    the same 8 band keys → N² candidates. max_band_freq drops the over-
    shared keys (fail-soft), while distinct hashes keep matching normally."""
    from lantern_extras_spark.operators.dedup import hash_neardup_pairs

    rows = [(i, 0) for i in range(50)]  # degenerate: all-zero hash
    # near-dup pair (hamming 2) whose NONZERO bands (4, 5) are private keys
    # — its zero bands are flooded by the block and get dropped, but the
    # pair still meets through the private ones
    h1 = (0xABCD << 32) | 1
    rows += [(100, h1), (101, h1 ^ 3)]
    df = spark.createDataFrame(rows, "media_id long, phash long")
    got = {
        (r["id_a"], r["id_b"])
        for r in hash_neardup_pairs(
            df, "phash", max_distance=6, max_band_freq=10
        ).collect()
    }
    assert got == {(100, 101)}
    # and without the cap, the block floods the output quadratically
    uncapped = hash_neardup_pairs(df, "phash", max_distance=6).count()
    assert uncapped == (50 * 49) // 2 + 1


def test_image_neardup_end_to_end(spark):
    """ppm bytes -> image_phash -> banded pairs: the two near-identical
    images pair up, the distinct one does not; broken bytes -> NULL hash."""
    from lantern_extras_spark.multimodal.media import image_phash
    from lantern_extras_spark.operators.dedup import hash_neardup_pairs

    rows = [
        (1, bytearray(_noise_ppm((30, 90, 160)))),
        (2, bytearray(_noise_ppm((30, 90, 160), flips=[(5, 5, 5)]))),
        (3, bytearray(_noise_ppm((250, 10, 10), phase=2.0))),
        (4, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "media_id long, media binary")
    hashed = image_phash(df)
    got = {r["media_id"]: r["phash"] for r in hashed.collect()}
    assert got[4] is None and got[1] is not None
    pairs = hash_neardup_pairs(hashed, "phash", max_distance=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


# ---------------------------------------------------------------------------
# TIFF baseline decode (r10): IFD walk, strips, PackBits
# ---------------------------------------------------------------------------


def _packbits_encode(raw):
    """Independent PackBits encoder: greedy runs."""
    out = bytearray()
    i = 0
    n = len(raw)
    while i < n:
        run = 1
        while i + run < n and raw[i + run] == raw[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([257 - run, raw[i]])
            i += run
        else:
            j = i + 1
            while j < n and (j - i) < 128 and not (j + 1 < n and raw[j] == raw[j + 1]):
                j += 1
            out += bytes([j - i - 1]) + raw[i:j]
            i = j
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Independent TIFF-LZW ENCODER (MSB-first, 9-12 bit codes, Clear=256,
    EOI=257, EARLY CHANGE: width bumps when the next free slot reaches
    2^width - 1 — TIFF 6.0 §13)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def flush():
        nonlocal acc, nbits
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
            acc = nbits = 0

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    wbuf = b""
    for b in data:
        wc = wbuf + bytes([b])
        if wc in table:
            wbuf = wc
            continue
        emit(table[wbuf])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code >= (1 << width) - 1 and width < 12:  # early change
                width += 1
        wbuf = bytes([b])
    if wbuf:
        emit(table[wbuf])
    emit(EOI)
    flush()
    return bytes(out)


def _tiff(img, byte_order="<", compression=1, photometric=None, rows_per_strip=None, predictor=1):
    """Independent minimal TIFF writer: gray or RGB 8-bit, strip-organized."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    photometric = photometric if photometric is not None else (1 if spp == 1 else 2)
    rows_per_strip = rows_per_strip or h
    if predictor == 2:  # horizontal differencing before compression
        d = img.astype(np.int64).reshape(h, w, spp).copy()
        d[:, 1:] -= img.reshape(h, w, spp)[:, :-1].astype(np.int64)
        flat = (d % 256).astype(np.uint8).tobytes()
    else:
        flat = img.tobytes()
    strips = []
    for r0 in range(0, h, rows_per_strip):
        rows = min(rows_per_strip, h - r0)
        chunk = flat[r0 * w * spp : (r0 + rows) * w * spp]
        if compression == 32773:
            strips.append(_packbits_encode(chunk))
        elif compression == 5:
            strips.append(_tiff_lzw_encode(chunk))
        else:
            strips.append(chunk)
    bo = byte_order
    magic = b"II*\x00" if bo == "<" else b"MM\x00*"
    n_strips = len(strips)
    # layout: header(8) + IFD + [strip offsets array][strip counts array][bits array] + data
    tags = []  # (tag, type, count, value_or_offset_placeholder)
    ntags = 10 + (1 if predictor == 2 else 0)
    ifd_size = 2 + ntags * 12 + 4
    arrays_off = 8 + ifd_size
    def arr(fmt, vals):
        return struct.pack(bo + fmt * len(vals), *vals)
    strip_off_pos = arrays_off
    strip_cnt_pos = strip_off_pos + 4 * n_strips
    bits_pos = strip_cnt_pos + 4 * n_strips
    data_pos = bits_pos + 2 * spp
    offsets = []
    p = data_pos
    for s in strips:
        offsets.append(p)
        p += len(s)
    def tag(t, typ, cnt, val, inline_fmt=None):
        if inline_fmt:
            v = struct.pack(bo + inline_fmt, *val) + b"\x00" * (4 - struct.calcsize(inline_fmt))
            return struct.pack(bo + "HHI", t, typ, cnt) + v
        return struct.pack(bo + "HHII", t, typ, cnt, val)
    entries = [
        tag(256, 4, 1, (w,), "I"),
        tag(257, 4, 1, (h,), "I"),
        tag(258, 3, spp, bits_pos) if spp > 1 else tag(258, 3, 1, (8,), "H"),
        tag(259, 3, 1, (compression,), "H"),
        tag(262, 3, 1, (photometric,), "H"),
        tag(273, 4, n_strips, strip_off_pos) if n_strips > 1 else tag(273, 4, 1, (offsets[0],), "I"),
        tag(277, 3, 1, (spp,), "H"),
        tag(278, 4, 1, (rows_per_strip,), "I"),
        tag(279, 4, n_strips, strip_cnt_pos) if n_strips > 1 else tag(279, 4, 1, (len(strips[0]),), "I"),
        tag(296, 3, 1, (2,), "H"),  # resolution unit (filler tag)
    ]
    if predictor == 2:
        entries.append(tag(317, 3, 1, (predictor,), "H"))
    ifd = struct.pack(bo + "H", len(entries)) + b"".join(entries) + struct.pack(bo + "I", 0)
    out = magic + struct.pack(bo + "I", 8) + ifd
    out += arr("I", offsets) + arr("I", [len(s) for s in strips]) + arr("H", [8] * spp)
    assert len(out) == data_pos
    return out + b"".join(strips)


def _tiff_img(h=6, w=5, rgb=True, seed=2):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randint(0, 255, (h, w, 3) if rgb else (h, w), dtype=np.uint8)


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("compression", [1, 32773])
def test_tiff_decode_rgb(bo, compression):
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_tiff

    img = _tiff_img()
    got = decode_tiff(_tiff(img, byte_order=bo, compression=compression))
    assert np.array_equal(got, img)


def test_tiff_gray_multistrip_and_inversion():
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes, decode_tiff

    g = _tiff_img(rgb=False, h=7)
    got = decode_tiff(_tiff(g, rows_per_strip=3, compression=32773))
    assert np.array_equal(got, np.repeat(g[:, :, None], 3, axis=2))
    # photometric 0 = white-is-zero -> inverted
    inv = decode_tiff(_tiff(g, photometric=0))
    assert np.array_equal(inv[:, :, 0], 255 - g)
    # magic dispatch
    assert decode_image_bytes(_tiff(g)).shape == (7, 5, 3)


def test_tiff_malformed_rejection():
    import pytest as _pt

    from lantern_extras_spark.multimodal.media import decode_tiff, _packbits_decode

    good = _tiff(_tiff_img())
    with _pt.raises(ValueError, match="TIFF"):
        decode_tiff(b"notatiff")
    with _pt.raises(ValueError):
        decode_tiff(good[:40])
    with _pt.raises(ValueError, match="PackBits"):
        _packbits_decode(b"\x05ab", 6)  # literal run truncated
    with _pt.raises(ValueError, match="expected"):
        _packbits_decode(b"\x00a", 5)


def test_tiff_feeds_phash_pipeline(spark):
    """decode_image_features + image_phash accept TIFF rows end-to-end."""
    from lantern_extras_spark.multimodal.media import image_phash

    img = _tiff_img(h=16, w=16)
    df = spark.createDataFrame(
        [(1, bytearray(_tiff(img))), (2, bytearray(_tiff(img, compression=32773)))],
        "media_id long, media binary",
    )
    got = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}
    assert got[1] is not None and got[1] == got[2]  # lossless codecs agree


def test_hash_neardup_join_batch_vs_store(spark):
    """Cross-frame matching == brute force between the frames; within-batch
    pairs NOT emitted; NULL hashes skipped."""
    import itertools
    import random

    from lantern_extras_spark.operators.dedup import hash_neardup_join

    rng = random.Random(11)
    base = rng.getrandbits(64)

    def jiggle(v, k):
        for _ in range(k):
            v ^= 1 << rng.randrange(64)
        return v

    store_h = {i: (jiggle(base, rng.randrange(0, 8)) if i % 2 else rng.getrandbits(64))
               for i in range(20)}
    batch_h = {100 + i: (jiggle(base, rng.randrange(0, 8)) if i % 3 else rng.getrandbits(64))
               for i in range(9)}

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    store = spark.createDataFrame(
        [(i, signed(v)) for i, v in store_h.items()], "vec_id long, phash long"
    )
    batch_rows = [(i, signed(v)) for i, v in batch_h.items()] + [(999, None)]
    batch = spark.createDataFrame(batch_rows, "media_id long, phash long")
    got = {
        (r["batch_id"], r["store_id"], r["hamming"])
        for r in hash_neardup_join(
            batch, store, "phash", store_id_col="vec_id", max_distance=6
        ).collect()
    }
    want = set()
    for bi, sv in itertools.product(batch_h, store_h):
        d = bin(batch_h[bi] ^ store_h[sv]).count("1")
        if d <= 6:
            want.add((bi, sv, d))
    assert got == want and want
    assert not any(b == 999 for b, _, _ in got)
    # re-ingest: same id in batch AND store → self-match included by
    # default, excluded with exclude_self=True
    re_batch = spark.createDataFrame(
        [(5, signed(store_h[5]))], "media_id long, phash long"
    )
    with_self = {
        (r["batch_id"], r["store_id"])
        for r in hash_neardup_join(
            re_batch, store, "phash", store_id_col="vec_id", max_distance=6
        ).collect()
    }
    assert (5, 5) in with_self
    no_self = {
        (r["batch_id"], r["store_id"])
        for r in hash_neardup_join(
            re_batch, store, "phash", store_id_col="vec_id", max_distance=6,
            exclude_self=True,
        ).collect()
    }
    assert (5, 5) not in no_self and no_self == with_self - {(5, 5)}
    import pytest as _pt

    with _pt.raises(ValueError, match="pigeonhole"):
        hash_neardup_join(batch, store, "phash", store_id_col="vec_id",
                          band_bits=16, max_distance=6)


@pytest.mark.parametrize("sampling", ["444", "422", "420", "gray"])
def test_decode_jpeg_progressive_matches_reference(sampling):
    """Progressive (SOF2) decode: the full successive-approximation script
    recovers EXACT coefficients, so pixels must match the same independent
    reference decode the baseline tests pin (1 LSB IDCT rounding)."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(21, 13, 3), dtype=np.uint8)
    data, expected = _jpeg_progressive(img, sampling=sampling)
    got = decode_jpeg(data)  # routes to the SOF2 path
    assert got.shape == expected.shape == (21, 13, 3)
    diff = np.abs(got.astype(int) - expected.astype(int))
    assert diff.max() <= 1, (sampling, diff.max(), (diff > 0).mean())
    assert (diff > 0).mean() < 0.01


def test_decode_jpeg_progressive_equals_baseline_pixels():
    """The SAME image encoded baseline and progressive must decode to the
    same pixels (identical quantized coefficients, two wire formats)."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, size=(24, 17, 3), dtype=np.uint8)
    base, _ = _jpeg(img, sampling="420")
    prog, _ = _jpeg_progressive(img, sampling="420")
    assert np.array_equal(decode_jpeg(base), decode_jpeg(prog))


def test_decode_jpeg_progressive_sparse_band_eobruns():
    """A mostly-flat image makes long EOB runs and ZRL-in-refinement paths
    fire; single wide band exercises the one-band script shape."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import decode_jpeg

    img = np.full((32, 32, 3), 128, dtype=np.uint8)
    img[5, 7] = (250, 10, 60)  # one sharp impulse -> sparse high-freq ACs
    data, expected = _jpeg_progressive(img, bands=((1, 63),))
    got = decode_jpeg(data)
    diff = np.abs(got.astype(int) - expected.astype(int))
    assert diff.max() <= 1


def test_image_phash_baseline_progressive_parity(spark):
    """The SAME image shipped baseline vs progressive must land the same
    pHash (identical quantized coefficients ⇒ identical pixels) — the
    invariant perceptual dedup needs across re-encodes of one crawl."""
    import numpy as np
    from lantern_extras_spark.multimodal.media import image_phash

    rng = np.random.RandomState(31)
    img = rng.randint(0, 256, size=(40, 40, 3), dtype=np.uint8)
    base, _ = _jpeg(img, sampling="420")
    prog, _ = _jpeg_progressive(img, sampling="420")
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(prog))], "media_id long, media binary"
    )
    got = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}
    assert got[1] == got[2] and got[1] is not None


def test_tiff_lzw_roundtrip_and_early_change_boundary():
    """LZW kernel: independent encoder → package decoder round-trip,
    including data engineered to cross the 9→10 bit EARLY-CHANGE boundary
    with literal-only codes (no pair repeats → one table entry per emitted
    code, so a width off-by-one corrupts exactly at code 510/511)."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import _tiff_lzw_decode

    # no-repeated-pair sequence, length 600: every code emitted is a
    # literal; table grows past 511 forcing the early width bump mid-stream
    seq = bytearray()
    for i in range(600):
        seq.append((i * 7 + (i * i) % 13) % 256 if i % 2 == 0 else (191 - i) % 256)
    data = bytes(seq)
    enc = _tiff_lzw_encode(data)
    assert _tiff_lzw_decode(enc, len(data)) == data
    # highly repetitive data: multi-byte table strings + KwKwK case
    rep = (b"abcabcabcaaabbbccc" * 40) + bytes(64)
    assert _tiff_lzw_decode(_tiff_lzw_encode(rep), len(rep)) == rep
    rng = np.random.RandomState(4)
    for n in (1, 2, 700, 5000):  # 5000 crosses 10→11 bits
        blob = bytes(rng.randint(0, 8, n, dtype=np.uint8))  # small alphabet
        assert _tiff_lzw_decode(_tiff_lzw_encode(blob), n) == blob
    import pytest as _pt

    with _pt.raises(ValueError, match="ended after"):
        _tiff_lzw_decode(_tiff_lzw_encode(b"hello")[:2], 5)


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("predictor", [1, 2])
def test_tiff_decode_lzw(bo, predictor):
    """Compression 5 (+ optional horizontal-differencing predictor, the
    pairing scanned-document TIFFs actually use) decodes to exact pixels,
    multi-strip included."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_tiff

    img = _tiff_img(h=21, w=17)
    got = decode_tiff(
        _tiff(img, byte_order=bo, compression=5, predictor=predictor,
              rows_per_strip=8)
    )
    assert np.array_equal(got, img)
    gray = _tiff_img(h=9, w=11, rgb=False)
    got = decode_tiff(_tiff(gray, byte_order=bo, compression=5, predictor=predictor))
    assert np.array_equal(got, gray[:, :, None].repeat(3, axis=2))


# ---------------------------------------------------------------------------
# VP8L (WebP lossless) decode (r12) — pinned against an INDEPENDENT minimal
# encoder written from the public bitstream spec (the progressive-JPEG/LZW
# fixture-encoder stance): LSB-first writer, canonical prefix codes in
# (length, symbol) order emitted MSB-first, DEFLATE-style RLE'd code
# lengths, the four transforms applied forward in stream order.
# ---------------------------------------------------------------------------

_VP8L_CLO = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _VP8LBitW:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, val, nbits):  # LSB-first field
        for i in range(nbits):
            self.acc |= ((val >> i) & 1) << self.n
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.n = 0

    def wcode(self, code, nbits):  # MSB-first (prefix-code convention)
        for i in range(nbits - 1, -1, -1):
            self.w((code >> i) & 1, 1)

    def bytes(self):
        return bytes(self.buf) + (bytes([self.acc]) if self.n else b"")


def _vp8l_canon(lengths):
    pairs = sorted((l, s) for s, l in enumerate(lengths) if l)
    codes, code, prev = {}, 0, pairs[0][0]
    for l, s in pairs:
        code <<= l - prev
        prev = l
        codes[s] = (code, l)
        code += 1
    return codes


def _vp8l_balanced(used, alphabet):
    """Complete canonical lengths over >=2 used symbols: Kraft-exact mix of
    L-1 and L bit codes."""
    import math

    n = len(used)
    L = max(1, math.ceil(math.log2(n)))
    n_short = (1 << L) - n
    lengths = [0] * alphabet
    for i, s in enumerate(sorted(used)):
        lengths[s] = L - 1 if (i < n_short and L > 1) else L
    return lengths


def _vp8l_write_code(bw, freq, alphabet):
    """Emit one prefix code for the given symbol frequencies; return
    sym -> (code, nbits) for the body writer."""
    used = sorted(freq)
    if not used:  # code is present in the stream but never read
        bw.w(1, 1); bw.w(0, 1); bw.w(0, 1); bw.w(0, 1)
        return {0: (0, 0)}
    if len(used) == 1 and used[0] < 256:
        s = used[0]
        bw.w(1, 1); bw.w(0, 1)
        if s > 1:
            bw.w(1, 1); bw.w(s, 8)
        else:
            bw.w(0, 1); bw.w(s, 1)
        return {s: (0, 0)}
    if len(used) == 2 and used[1] < 256:
        s0, s1 = used
        bw.w(1, 1); bw.w(1, 1)
        if s0 > 1:
            bw.w(1, 1); bw.w(s0, 8)
        else:
            bw.w(0, 1); bw.w(s0, 1)
        bw.w(s1, 8)
        return {s0: (0, 1), s1: (1, 1)}
    # normal form
    if len(used) == 1:  # symbol >= 256: pair with a dummy for completeness
        used = sorted({used[0], 0})
    lengths = _vp8l_balanced(used, alphabet)
    toks, i = [], 0
    while i < alphabet:
        l = lengths[i]
        j = i
        while j < alphabet and lengths[j] == l:
            j += 1
        run = j - i
        if l == 0:
            while run >= 11:
                c = min(run, 138); toks.append((18, c - 11, 7)); run -= c
            while run >= 3:
                c = min(run, 10); toks.append((17, c - 3, 3)); run -= c
            toks += [(0, 0, 0)] * run
        else:
            toks.append((l, 0, 0))
            run -= 1
            while run >= 3:
                c = min(run, 6); toks.append((16, c - 3, 2)); run -= c
            toks += [(l, 0, 0)] * run
        i = j
    cl_used = sorted({t[0] for t in toks})
    if len(cl_used) == 1:
        cl_used = sorted(set(cl_used) | {0 if cl_used[0] else 1})
    cl19 = _vp8l_balanced(cl_used, 19)
    pos_of = {s: i for i, s in enumerate(_VP8L_CLO)}
    ncl = max(4, max(pos_of[s] for s in range(19) if cl19[s]) + 1)
    bw.w(0, 1)  # normal form
    bw.w(ncl - 4, 4)
    for k in range(ncl):
        bw.w(cl19[_VP8L_CLO[k]], 3)
    bw.w(0, 1)  # no max_symbol shortcut
    clc = _vp8l_canon(cl19)
    for sym, extra, ebits in toks:
        c, nb = clc[sym]
        bw.wcode(c, nb)
        if ebits:
            bw.w(extra, ebits)
    return _vp8l_canon(lengths)


def _vp8l_prefix_split(v):
    x = v - 1
    if x < 4:
        return x, 0, 0
    for code in range(4, 40):
        e = (code - 2) >> 1
        off = (2 + (code & 1)) << e
        if off <= x < off + (1 << e):
            return code, x - off, e
    raise ValueError(v)


def _vp8l_hash(argb, cache_bits):
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)


def _vp8l_tokenize(pix, w, cache_bits, lz77, use_2d_map=False):
    toks, cache, pos, n = [], {}, 0, len(pix)

    def insert(argb):
        if cache_bits:
            cache[_vp8l_hash(argb, cache_bits)] = argb

    while pos < n:
        if lz77 and pos >= 1:
            best_len, best_d = 0, 0
            for d in (1, w):
                if d > pos:
                    continue
                l = 0
                while pos + l < n and l < 4096 and pix[pos + l] == pix[pos + l - d]:
                    l += 1
                if l > best_len:
                    best_len, best_d = l, d
            if best_len >= 3:
                # distance-symbol value: 2D map code for the two short
                # offsets the spec pins unambiguously ((0,1)=code 1 above,
                # (1,0)=code 2 left), else direct (dist + 120)
                if use_2d_map and best_d == w:
                    dv = 1
                elif use_2d_map and best_d == 1:
                    dv = 2
                else:
                    dv = best_d + 120
                toks.append(("copy", pos, best_len, dv))
                for k in range(best_len):
                    insert(pix[pos + k])
                pos += best_len
                continue
        argb = pix[pos]
        if cache_bits and cache.get(_vp8l_hash(argb, cache_bits)) == argb:
            toks.append(("cache", pos, _vp8l_hash(argb, cache_bits)))
        else:
            toks.append(("lit", pos, argb))
            insert(argb)
        pos += 1
    return toks


def _vp8l_entropy_image(bw, pix, w, h, cache_bits=0, lz77=False,
                        is_main=False, meta=None, use_2d_map=False):
    bw.w(1 if cache_bits else 0, 1)
    if cache_bits:
        bw.w(cache_bits, 4)
    group_of = lambda pos: 0  # noqa: E731
    n_groups = 1
    if is_main:
        if meta is not None:
            mb, gmap = meta
            bw.w(1, 1)
            bw.w(mb - 2, 3)
            mw = -(-w // (1 << mb))
            mh = -(-h // (1 << mb))
            assert len(gmap) == mw * mh
            meta_pix = [
                (0xFF << 24) | (((g >> 8) & 0xFF) << 16) | ((g & 0xFF) << 8)
                for g in gmap
            ]
            _vp8l_entropy_image(bw, meta_pix, mw, mh)
            n_groups = max(gmap) + 1
            group_of = lambda pos: gmap[  # noqa: E731
                ((pos // w) >> mb) * mw + ((pos % w) >> mb)
            ]
        else:
            bw.w(0, 1)
    toks = _vp8l_tokenize(pix, w, cache_bits, lz77, use_2d_map)
    freqs = [
        [dict(), dict(), dict(), dict(), dict()] for _ in range(n_groups)
    ]  # g r b a d

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for tok in toks:
        fg, fr, fb, fa, fd = freqs[group_of(tok[1])]
        if tok[0] == "lit":
            argb = tok[2]
            bump(fg, (argb >> 8) & 0xFF)
            bump(fr, (argb >> 16) & 0xFF)
            bump(fb, argb & 0xFF)
            bump(fa, (argb >> 24) & 0xFF)
        elif tok[0] == "cache":
            bump(fg, 280 + tok[2])
        else:
            bump(fg, 256 + _vp8l_prefix_split(tok[2])[0])
            bump(fd, _vp8l_prefix_split(tok[3])[0])
    cache_size = (1 << cache_bits) if cache_bits else 0
    gcodes = []
    for fg, fr, fb, fa, fd in freqs:
        gcodes.append(
            (
                _vp8l_write_code(bw, fg, 256 + 24 + cache_size),
                _vp8l_write_code(bw, fr, 256),
                _vp8l_write_code(bw, fb, 256),
                _vp8l_write_code(bw, fa, 256),
                _vp8l_write_code(bw, fd, 40),
            )
        )
    for tok in toks:
        cg, cr, cb, ca, cd = gcodes[group_of(tok[1])]
        if tok[0] == "lit":
            argb = tok[2]
            bw.wcode(*cg[(argb >> 8) & 0xFF])
            bw.wcode(*cr[(argb >> 16) & 0xFF])
            bw.wcode(*cb[argb & 0xFF])
            bw.wcode(*ca[(argb >> 24) & 0xFF])
        elif tok[0] == "cache":
            bw.wcode(*cg[280 + tok[2]])
        else:
            lc, lex, lbits = _vp8l_prefix_split(tok[2])
            bw.wcode(*cg[256 + lc])
            if lbits:
                bw.w(lex, lbits)
            dc, dex, dbits = _vp8l_prefix_split(tok[3])
            bw.wcode(*cd[dc])
            if dbits:
                bw.w(dex, dbits)


def _vp8l_fwd_sub(a, b):
    out = 0
    for sh in (0, 8, 16, 24):
        out |= (((a >> sh) - (b >> sh)) & 0xFF) << sh
    return out


def _vp8l_fwd_delta(pred, val):
    if pred >= 128:
        pred -= 256
    if val >= 128:
        val -= 256
    return (pred * val) >> 5


def _vp8l_encode(img, *, subtract_green=False, predictor=None, pred_bits=4,
                 color_transform=None, ct_bits=4, palette=False,
                 cache_bits=0, lz77=False, use_2d_map=False, meta=None):
    """img (H, W, 3) uint8 -> RIFF-wrapped lossless WebP bytes. Transforms
    are written (and applied forward) in stream order sg -> ct -> pred;
    palette is exclusive of the others (the common encoder split)."""
    import struct

    h, w, _ = img.shape
    pix = [
        (0xFF << 24) | (int(r) << 16) | (int(g) << 8) | int(b)
        for r, g, b in img.reshape(-1, 3)
    ]
    bw = _VP8LBitW()
    bw.w(0x2F, 8)
    bw.w(w - 1, 14)
    bw.w(h - 1, 14)
    bw.w(0, 1)
    bw.w(0, 3)
    cur_w = w
    if palette:
        assert not (subtract_green or predictor is not None or color_transform)
        colors = []
        index_of = {}
        for p in pix:
            if p not in index_of:
                index_of[p] = len(colors)
                colors.append(p)
        n = len(colors)
        assert n <= 256
        bw.w(1, 1)
        bw.w(3, 2)
        bw.w(n - 1, 8)
        deltas, prev = [], 0
        for c in colors:
            deltas.append(_vp8l_fwd_sub(c, prev))
            prev = c
        _vp8l_entropy_image(bw, deltas, n, 1)
        xbits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        if xbits:
            per = 1 << xbits
            ibits = 8 >> xbits
            cur_w = -(-w // per)
            packed = []
            for y in range(h):
                row = [index_of[p] for p in pix[y * w : (y + 1) * w]]
                for x0 in range(0, w, per):
                    g = 0
                    for k, idx in enumerate(row[x0 : x0 + per]):
                        g |= idx << (k * ibits)
                    packed.append((0xFF << 24) | (g << 8))
            pix = packed
        else:
            pix = [(0xFF << 24) | (index_of[p] << 8) for p in pix]
    if subtract_green:
        bw.w(1, 1)
        bw.w(2, 2)
        pix = [
            (p & 0xFF00FF00)
            | ((((p >> 16) - (p >> 8)) & 0xFF) << 16)
            | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
            for p in pix
        ]
    if color_transform is not None:
        g2r, g2b, r2b = color_transform
        bw.w(1, 1)
        bw.w(1, 2)
        bw.w(ct_bits - 2, 3)
        sw = -(-cur_w // (1 << ct_bits))
        sh = -(-h // (1 << ct_bits))
        cte = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
        _vp8l_entropy_image(bw, [cte] * (sw * sh), sw, sh)
        out = []
        for p in pix:
            g = (p >> 8) & 0xFF
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            nr = (r - _vp8l_fwd_delta(g2r, g)) & 0xFF
            nb = (b - _vp8l_fwd_delta(g2b, g) - _vp8l_fwd_delta(r2b, r)) & 0xFF
            out.append((p & 0xFF00FF00) | (nr << 16) | nb)
        pix = out
    if predictor is not None:
        from lantern_extras_spark.multimodal.media import _vp8l_predict

        bw.w(1, 1)
        bw.w(0, 2)
        bw.w(pred_bits - 2, 3)
        sw = -(-cur_w // (1 << pred_bits))
        sh = -(-h // (1 << pred_bits))
        _vp8l_entropy_image(
            bw, [(0xFF << 24) | (predictor << 8)] * (sw * sh), sw, sh
        )
        out = []
        for pos in range(len(pix)):
            x, y = pos % cur_w, pos // cur_w
            if pos == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[pos - 1]
            elif x == 0:
                pred = pix[pos - cur_w]
            else:
                pred = _vp8l_predict(
                    predictor, pix[pos - 1], pix[pos - cur_w],
                    pix[pos - cur_w - 1], pix[pos - cur_w + 1],
                )
            out.append(_vp8l_fwd_sub(pix[pos], pred))
        pix = out
    bw.w(0, 1)  # end of transforms
    _vp8l_entropy_image(
        bw, pix, cur_w, h, cache_bits=cache_bits, lz77=lz77,
        is_main=True, meta=meta, use_2d_map=use_2d_map,
    )
    body = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(body)) + body
    if len(body) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _rand_img(h, w, seed, levels=256):
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.randint(0, levels, size=(h, w, 3)).astype(np.uint8)


def test_vp8l_literals_roundtrip():
    """Plain literal stream, normal prefix codes on every channel."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    img = _rand_img(7, 13, seed=1)
    got = decode_image_bytes(_vp8l_encode(img))
    assert got.shape == (7, 13, 3) and np.array_equal(got, img)
    # single-pixel and single-column edge shapes
    for h, w in [(1, 1), (5, 1), (1, 9)]:
        im = _rand_img(h, w, seed=h * 16 + w)
        assert np.array_equal(decode_image_bytes(_vp8l_encode(im)), im)


@pytest.mark.parametrize("mode", list(range(14)))
def test_vp8l_predictor_modes_roundtrip(mode):
    """Every predictor mode over a gradient+noise image (gradients make
    non-trivial residuals for the averaging/select/clamp modes)."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    base = np.add.outer(np.arange(11) * 7, np.arange(17) * 3) % 256
    img = (np.stack([base, base * 2 % 256, 255 - base], -1)
           + _rand_img(11, 17, seed=mode).astype(int) % 29).astype(np.uint8)
    got = decode_image_bytes(_vp8l_encode(img, predictor=mode, pred_bits=3))
    assert np.array_equal(got, img)


def test_vp8l_predictor_formula_pins():
    """Known-answer pins for the non-trivial predictor formulas, computed
    BY HAND from the spec text (guards against a same-bug-both-sides
    encoder/decoder roundtrip): Select picks the neighbor closer to
    L+T-TL by channel-sum of absolute differences; ClampAddSubtractFull
    clamps per-channel L+T-TL; Half clamps ave+(ave-TL)/2 with C-style
    truncation toward zero."""
    from lantern_extras_spark.multimodal.media import _vp8l_predict

    def px(r, g, b, a=0xFF):
        return (a << 24) | (r << 16) | (g << 8) | b

    L, T, TL, TR = px(10, 20, 30), px(40, 8, 28), px(12, 18, 29), px(0, 0, 0)
    # mode 11 Select: p = L+T-TL = (38, 10, 29); |p-L|: 28+10+1=39,
    # |p-T|: 2+2+1=5 -> T is closer -> returns T
    assert _vp8l_predict(11, L, T, TL, TR) == T
    # mode 12 full clamp: (10+40-12, 20+8-18, 30+28-29) = (38, 10, 29)
    assert _vp8l_predict(12, L, T, TL, TR) == px(38, 10, 29, 255)
    # alpha channel: 255+255-255 = 255
    # mode 12 clamps: L=(250,..), T=(20,..), TL=(5,..) -> 250+20-5=265 -> 255
    assert (_vp8l_predict(12, px(250, 0, 0), px(20, 3, 0), px(5, 200, 0), TR)
            >> 16) & 0xFF == 255
    assert (_vp8l_predict(12, px(0, 0, 0), px(0, 0, 0), px(9, 0, 0), TR)
            >> 16) & 0xFF == 0  # 0+0-9 -> clamp 0
    # mode 13 half: ave = (L+T)//2 per channel = (25, 14, 29);
    # ave + (ave-TL)/2 trunc-toward-0: r 25+(13//2)=31, g 14+(-4 -> -2)=12,
    # b 29+0=29
    assert _vp8l_predict(13, L, T, TL, TR) == px(31, 12, 29, 255)
    # mode 5/7/10 averaging spot values
    assert _vp8l_predict(7, L, T, TL, TR) == px(25, 14, 29, 255)
    assert _vp8l_predict(5, L, T, TL, TR) == px(
        (((10 + 0) // 2) + 40) // 2, (((20 + 0) // 2) + 8) // 2,
        (((30 + 0) // 2) + 28) // 2, 255)


def test_vp8l_subtract_green_cache_lz77():
    """subtract-green + color cache + LZ77 copies (both direct distances
    and the two unambiguous 2D map codes: 1=above, 2=left)."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    # repetitive rows + runs -> real LZ77 copies; few colors -> cache hits
    tile = _rand_img(3, 8, seed=7, levels=4)
    img = np.tile(tile, (4, 3, 1))  # 12 x 24
    for kw in (
        dict(lz77=True),
        dict(lz77=True, use_2d_map=True),
        dict(cache_bits=4),
        dict(subtract_green=True, cache_bits=3, lz77=True),
        dict(subtract_green=True),
    ):
        got = decode_image_bytes(_vp8l_encode(img, **kw))
        assert np.array_equal(got, img), kw


def test_vp8l_palette_roundtrip():
    """Color-indexing transform: packed widths (2/4/16 colors) and the
    unpacked >16-color path, including non-multiple row widths."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    rng = np.random.RandomState(3)
    for n_colors, w in [(2, 13), (4, 9), (13, 10), (40, 7)]:
        pal = rng.randint(0, 256, size=(n_colors, 3), dtype=np.uint8)
        idx = rng.randint(0, n_colors, size=(6, w))
        idx.flat[:n_colors] = np.arange(n_colors)  # every color appears
        img = pal[idx]
        got = decode_image_bytes(_vp8l_encode(img, palette=True))
        assert np.array_equal(got, img), (n_colors, w)


def test_vp8l_color_transform_roundtrip():
    """Constant color-transform element, including negative (int8) factors
    and the red->blue term that keys on the reconstructed red."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    img = _rand_img(9, 11, seed=5)
    for cte in [(32, 16, 8), (0xE0, 0x90, 0xFF), (1, 255, 128)]:
        got = decode_image_bytes(_vp8l_encode(img, color_transform=cte))
        assert np.array_equal(got, img), cte
    # stacked: subtract-green then color transform then predictor
    got = decode_image_bytes(_vp8l_encode(
        img, subtract_green=True, color_transform=(32, 16, 8),
        predictor=7, pred_bits=4))
    assert np.array_equal(got, img)


def test_vp8l_meta_prefix_groups():
    """Spatially varying prefix-code groups: a 2-group entropy image
    (left/right halves), each group's codes tuned to its own half."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    h, w, mb = 8, 16, 2
    left = _rand_img(h, w // 2, seed=11, levels=3)
    right = 200 + _rand_img(h, w // 2, seed=12, levels=50)
    img = np.concatenate([left, right], axis=1).astype(np.uint8)
    mw, mh = -(-w // (1 << mb)), -(-h // (1 << mb))
    gmap = [1 if (bx << mb) >= w // 2 else 0
            for by in range(mh) for bx in range(mw)]
    got = decode_image_bytes(_vp8l_encode(img, meta=(mb, gmap)))
    assert np.array_equal(got, img)


def test_vp8l_malformed_and_vp8_gate():
    import pytest as _pt

    from lantern_extras_spark.multimodal.media import (
        decode_image_bytes,
        decode_webp,
        vp8l_decode,
    )

    with _pt.raises(ValueError, match="gated"):
        decode_webp(_webp("vp8", 64, 64))
    with _pt.raises(ValueError, match="signature"):
        vp8l_decode(b"\x00\x00\x00\x00\x00")
    with _pt.raises(ValueError):  # truncated stream
        good = _vp8l_encode(_rand_img(6, 6, seed=1))
        decode_image_bytes(good[:-6])
    with _pt.raises(ValueError, match="VP8L"):  # VP8X container, no VP8L
        decode_webp(_webp("vp8x", 10, 10))


def test_vp8l_phash_parity_vs_png_twin(spark):
    """Cross-coding near-dup dedup: the SAME pixels as lossless WebP and as
    PNG must produce IDENTICAL perceptual hashes through the Spark op —
    the property that makes pHash dedup work across a mixed-format crawl
    (same pin progressive JPEG earned in r11)."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import image_phash

    base = np.add.outer(np.arange(24) * 11, np.arange(32) * 5) % 256
    img = np.stack([base, (base * 3) % 256, base[::-1]], -1).astype(np.uint8)
    webp = _vp8l_encode(img, subtract_green=True, predictor=7, lz77=True)
    png = _png(img)
    df = spark.createDataFrame(
        [(1, bytearray(webp)), (2, bytearray(png))], "media_id long, media binary"
    )
    for kind in ("phash", "dhash"):
        rows = {r["media_id"]: r["phash"] for r in
                image_phash(df, kind=kind).collect()}
        assert rows[1] is not None and rows[1] == rows[2], kind


# Differential fuzz: _vp8l_encode -> vp8l_decode roundtrip across the
# option matrix (hypothesis) — every transform stack, cache size, and
# image shape must reproduce pixels exactly (lossless means lossless).
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 14),
    w=st.integers(1, 19),
    levels=st.sampled_from([2, 5, 256]),
    seed=st.integers(0, 2**31 - 1),
    sg=st.booleans(),
    pred=st.one_of(st.none(), st.integers(0, 13)),
    cache=st.sampled_from([0, 2, 6]),
    lz=st.booleans(),
)
def test_vp8l_roundtrip_fuzz(h, w, levels, seed, sg, pred, cache, lz):
    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_image_bytes

    img = _rand_img(h, w, seed=seed % 2**16, levels=levels)
    data = _vp8l_encode(
        img, subtract_green=sg, predictor=pred, pred_bits=3,
        cache_bits=cache, lz77=lz,
    )
    assert np.array_equal(decode_image_bytes(data), img)


def test_vp8l_inside_vp8x_container():
    """Extended (VP8X) containers wrap the VP8L chunk behind a metadata
    header — decode_webp walks chunks to the lossless payload."""
    import struct

    import numpy as np

    from lantern_extras_spark.multimodal.media import decode_webp

    img = _rand_img(5, 8, seed=21)
    plain = _vp8l_encode(img)
    vp8l_chunk = plain[12:]  # chunks after RIFF....WEBP
    flags = 0
    vp8x_body = bytes([flags]) + bytes(3) + (8 - 1).to_bytes(3, "little") + (
        5 - 1
    ).to_bytes(3, "little")
    chunks = b"VP8X" + struct.pack("<I", len(vp8x_body)) + vp8x_body + vp8l_chunk
    data = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    assert np.array_equal(decode_webp(data), img)


def test_vp8l_distance_map_structure():
    """The 120-entry short-distance map must be representable in the
    spec's byte packing `(dy << 4) | (8 - dx)` — both nibbles 0..15, all
    codes distinct. This is the constraint that pins dx to -7..8 (NOT -8:
    8 - (-8) = 16 overflows the nibble — the bug a naive -8..8 candidate
    pool introduces at codes 103+). Spot values cross-checked against
    libwebp's kCodeToPlaneCodes."""
    from lantern_extras_spark.multimodal.media import _VP8L_DIST

    assert len(_VP8L_DIST) == 120
    packed = set()
    for dx, dy in _VP8L_DIST:
        assert -7 <= dx <= 8 and 0 <= dy <= 7, (dx, dy)
        b = (dy << 4) | (8 - dx)
        assert 0 <= b <= 0x7F
        packed.add(b)
    assert len(packed) == 120  # injective packing
    # spot pins: codes 1/2/3 (above, left, above-left-diag) and the first
    # code past the old bug boundary (103 -> (8, 2))
    assert _VP8L_DIST[0] == (0, 1)
    assert _VP8L_DIST[1] == (1, 0)
    assert _VP8L_DIST[2] == (1, 1)
    assert _VP8L_DIST[102] == (8, 2)
    assert not any(dx == -8 for dx, _ in _VP8L_DIST)


def test_vp8l_single_symbol_normal_form_code():
    """ADVICE r12: a normal-form prefix code with exactly one used symbol is
    a valid 0-bit single-symbol code (libwebp BuildHuffmanTable's 'special
    case code with only one value') — non-libwebp encoders emit this, e.g.
    for a code-length code with a single distinct length. It must decode
    without consuming bits, not raise and sentinel the whole image."""
    from lantern_extras_spark.multimodal.media import _VP8LCode, _VP8LReader

    code = _VP8LCode([0, 0, 5, 0])  # symbol 2, stated length 5
    br = _VP8LReader(b"\xff\xff")
    assert code.read(br) == 2 and br.bitpos == 0  # zero bits consumed
    # the simple-form constructor path is unchanged
    assert _VP8LCode([], single=7).read(br) == 7
    # multi-symbol tables still demand Kraft completeness
    import pytest as _pt

    with _pt.raises(ValueError, match="incomplete|oversubscribed"):
        _VP8LCode([3, 3])
    with _pt.raises(ValueError, match="empty"):
        _VP8LCode([0, 0])


def test_vp8l_palette_dtype_little_endian():
    """ADVICE r12: the palette-expanded array must be explicit '<u4' like
    the main decode path — downstream uint8 views assume little-endian
    (b,g,r,a) channel layout on any host."""
    import numpy as np

    from lantern_extras_spark.multimodal.media import _vp8l_inv_palette

    arr = np.array([[0x00000100, 0x00000000]], dtype="<u4")  # indices 1, 0
    pal = [0x11223344, 0xAABBCCDD]
    out = _vp8l_inv_palette(arr, 2, 1, 0, pal, 2)
    assert out.dtype == np.dtype("<u4")
    assert [hex(v) for v in out[0]] == ["0xaabbccdd", "0x11223344"]
