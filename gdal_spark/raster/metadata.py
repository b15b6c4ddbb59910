"""Cross-format image metadata domains — XMP, ICC, text.

Reference surface: the per-driver metadata collectors the reference
exposes as GDAL metadata domains —

- JPEG: ``jpgdataset.cpp:450`` ReadXMPMetadata, ``:1358``
  ReadICCProfile (handled in :mod:`gdal_spark.raster.exif`);
- PNG: ``pngdataset.cpp:1559`` CollectMetadata (tEXt/zTXt/iTXt →
  default domain with ``' '``, ``'='``, ``':'`` munged to ``'_'`` in
  keys), ``:1609`` CollectXMPMetadata (iTXt keyword
  ``XML:com.adobe.xmp``), ``:1692`` iCCP → COLOR_PROFILE;
- WebP: ``webpdataset.cpp:265`` GetMetadata(xml:XMP) reading the RIFF
  ``META`` chunk (the historical fourcc; modern libwebp mux writes
  ``XMP ``, accepted too);
- GeoTIFF: TIFFTAG_XMLPACKET (700) → xml:XMP.

Parity is pinned by the reference's own cross-driver matrix
(``autotest/gdrivers/xmp.py``) in ``tests/test_metadata.py``.

All of it is header-scan work per image — a map-only column transform
at corpus scale, same posture as :func:`gdal_spark.raster.exif
.with_exif`.
"""

from __future__ import annotations

import struct
import zlib

from gdal_spark.raster import codec
from gdal_spark.raster import exif as _exif

# ---------------------------------------------------------------------------
# PNG


def png_chunks(buf: bytes):
    """Yield (type, data) for each PNG chunk."""
    if codec.identify(buf) != "png":
        return
    off = 8
    while off + 8 <= len(buf):
        (ln,) = struct.unpack_from(">I", buf, off)
        ctype = buf[off + 4:off + 8]
        data = buf[off + 8:off + 8 + ln]
        yield ctype, data
        off += 12 + ln  # length + type + data + crc
        if ctype == b"IEND":
            break


def _munge_key(k: str) -> str:
    """pngdataset.cpp:1590: ' ', '=', ':' → '_' in metadata keys."""
    return k.replace(" ", "_").replace("=", "_").replace(":", "_")


_PNG_XMP_KEYWORD = b"XML:com.adobe.xmp"


def _itxt_fields(data: bytes):
    """iTXt: keyword\\0 compflag compmethod lang\\0 translated\\0 text."""
    i = data.find(b"\x00")
    if i < 0 or len(data) < i + 3:
        return None
    keyword = data[:i]
    comp_flag = data[i + 1]
    rest = data[i + 3:]
    j = rest.find(b"\x00")
    if j < 0:
        return None
    k = rest.find(b"\x00", j + 1)
    if k < 0:
        return None
    text = rest[k + 1:]
    if comp_flag:
        try:
            text = zlib.decompress(text)
        except zlib.error:
            return None
    return keyword, text


def png_text(buf: bytes) -> dict[str, str]:
    """tEXt/zTXt/iTXt → default-domain metadata, GDAL key munge;
    the XMP iTXt is routed to its own domain, not here (libpng hands
    GDAL that text too, but GDAL reads XMP via its own scan)."""
    out: dict[str, str] = {}
    for ctype, data in png_chunks(buf):
        if ctype == b"tEXt":
            i = data.find(b"\x00")
            if i >= 0:
                out[_munge_key(data[:i].decode("latin-1"))] = (
                    data[i + 1:].decode("latin-1")
                )
        elif ctype == b"zTXt":
            i = data.find(b"\x00")
            if i >= 0 and len(data) > i + 2:
                try:
                    text = zlib.decompress(data[i + 2:])
                except zlib.error:
                    continue
                out[_munge_key(data[:i].decode("latin-1"))] = (
                    text.decode("latin-1")
                )
        elif ctype == b"iTXt":
            f = _itxt_fields(data)
            if f is None or f[0] == _PNG_XMP_KEYWORD:
                continue
            out[_munge_key(f[0].decode("latin-1"))] = (
                f[1].decode("utf-8", "replace")
            )
    return out


def png_xmp(buf: bytes) -> str | None:
    """pngdataset.cpp:1609 CollectXMPMetadata: the iTXt chunk whose
    keyword is ``XML:com.adobe.xmp``."""
    for ctype, data in png_chunks(buf):
        if ctype != b"iTXt":
            continue
        f = _itxt_fields(data)
        if f is not None and f[0] == _PNG_XMP_KEYWORD:
            return f[1].decode("utf-8", "replace")
    return None


def png_icc_profile(buf: bytes):
    """iCCP chunk → (profile_name, profile_bytes) or None
    (pngdataset.cpp:1692 → SOURCE_ICC_PROFILE/_NAME)."""
    for ctype, data in png_chunks(buf):
        if ctype != b"iCCP":
            continue
        i = data.find(b"\x00")
        if i < 0 or len(data) < i + 2:
            return None
        try:
            profile = zlib.decompress(data[i + 2:])
        except zlib.error:
            return None
        return data[:i].decode("latin-1"), profile
    return None


def build_png_text_chunk(key: str, value: str) -> bytes:
    """A spec-shaped tEXt chunk (write side / fixtures)."""
    data = key.encode("latin-1") + b"\x00" + value.encode("latin-1")
    body = b"tEXt" + data
    return (
        struct.pack(">I", len(data)) + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def build_png_itxt_xmp(xmp: str) -> bytes:
    data = (
        _PNG_XMP_KEYWORD + b"\x00\x00\x00" + b"\x00" + b"\x00"
        + xmp.encode("utf-8")
    )
    body = b"iTXt" + data
    return (
        struct.pack(">I", len(data)) + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def insert_png_chunks(png: bytes, chunks: list[bytes]) -> bytes:
    """Insert raw chunks right after IHDR."""
    if codec.identify(png) != "png":
        raise ValueError("not a PNG")
    (ln,) = struct.unpack_from(">I", png, 8)
    end_ihdr = 8 + 12 + ln
    return png[:end_ihdr] + b"".join(chunks) + png[end_ihdr:]


# ---------------------------------------------------------------------------
# WebP


def _webp_chunks(buf: bytes):
    if codec.identify(buf) != "webp":
        return
    off = 12
    while off + 8 <= len(buf):
        tag = buf[off:off + 4]
        (ln,) = struct.unpack_from("<I", buf, off + 4)
        yield tag, buf[off + 8:off + 8 + ln]
        off += 8 + ln + (ln & 1)


def webp_xmp(buf: bytes) -> str | None:
    """webpdataset.cpp:265: the ``META`` chunk is served as xml:XMP;
    modern libwebp mux writes ``XMP `` — both accepted."""
    for tag, data in _webp_chunks(buf):
        if tag in (b"META", b"XMP "):
            return data.rstrip(b"\x00").decode("utf-8", "replace")
    return None


def webp_exif(buf: bytes) -> dict[str, str]:
    """``EXIF`` chunk (libwebp mux): same TIFF IFD payload as JPEG
    APP1, with or without the ``Exif\\0\\0`` prefix. (The reference's
    WebP driver exposes only XMP; this extends the same parse to the
    container's standard EXIF chunk.)"""
    for tag, data in _webp_chunks(buf):
        if tag == b"EXIF":
            if data[:6] == b"Exif\x00\x00":
                data = data[6:]
            return {
                name: _exif._format_value(vtype, values)
                for name, (vtype, values) in _exif_tiff_raw(data).items()
            }
    return {}


def webp_icc_profile(buf: bytes) -> bytes | None:
    """``ICCP`` chunk of a VP8X container."""
    for tag, data in _webp_chunks(buf):
        if tag == b"ICCP":
            return bytes(data)
    return None


def _exif_tiff_raw(tiff_buf: bytes):
    """Raw EXIF dict from a bare TIFF payload (shared with exif.py)."""
    fake = (
        b"\xff\xd8\xff\xe1"
        + struct.pack(">H", len(tiff_buf) + 8)
        + b"Exif\x00\x00" + tiff_buf + b"\xff\xd9"
    )
    return _exif.parse_exif_raw(fake)


# ---------------------------------------------------------------------------
# GeoTIFF


def tiff_xmp(buf: bytes) -> str | None:
    """TIFFTAG_XMLPACKET (700) → xml:XMP."""
    from gdal_spark.raster import tiff as T

    try:
        bo, big, off = T._read_header(buf)
        tags, _ = T._read_ifd(buf, bo, big, off)
    except Exception:
        return None
    v = tags.get(700)
    if v is None:
        return None
    return bytes(v).decode("utf-8", "replace")


# ---------------------------------------------------------------------------
# dispatch


def image_xmp(buf: bytes, fmt: str) -> str | None:
    """XMP packet by format — the reference's cross-driver xml:XMP
    surface (autotest/gdrivers/xmp.py matrix)."""
    f = fmt.lower()
    if f in ("jpeg", "jpg"):
        return _exif.parse_xmp(bytes(buf))
    if f == "png":
        return png_xmp(bytes(buf))
    if f == "webp":
        return webp_xmp(bytes(buf))
    if f in ("tif", "tiff", "gtiff", "cog"):
        return tiff_xmp(bytes(buf))
    if f == "gif":
        from gdal_spark.raster.gif import gif_xmp

        return gif_xmp(bytes(buf))
    return None


def image_metadata(buf: bytes, fmt: str) -> dict[str, dict[str, str]]:
    """domain → items, GDAL-style: '' (EXIF for JPEG, text chunks for
    PNG), 'xml:XMP', 'COLOR_PROFILE'."""
    buf = bytes(buf)
    f = fmt.lower()
    out: dict[str, dict[str, str]] = {}
    default: dict[str, str] = {}
    icc = None
    if f in ("jpeg", "jpg"):
        default = _exif.parse_exif(buf)
        icc = _exif.parse_icc_profile(buf)
        icc_name = "ICC Profile"
    elif f == "png":
        default = png_text(buf)
        got = png_icc_profile(buf)
        icc, icc_name = (got[1], got[0]) if got else (None, None)
    elif f == "webp":
        default = webp_exif(buf)
        icc = webp_icc_profile(buf)
        icc_name = "ICC Profile"
    if default:
        out[""] = default
    xmp = image_xmp(buf, fmt)
    if xmp is not None:
        out["xml:XMP"] = {"XMP": xmp}
    if icc:
        import base64

        out["COLOR_PROFILE"] = {
            "SOURCE_ICC_PROFILE": base64.b64encode(icc).decode("ascii"),
        }
        if icc_name:
            out["COLOR_PROFILE"]["SOURCE_ICC_PROFILE_NAME"] = icc_name
    return out
