"""NASA PDS3 (Planetary Data System) reader in NumPy.

Mirrors ``frmts/pds/pdsdataset.cpp`` + ``nasakeywordhandler.cpp``:

* ODL label parsing: ``KEY = VALUE`` records with multi-line quoted
  strings and parenthesized lists, ``/* */`` comments,
  ``OBJECT``/``GROUP`` nesting into dotted key paths, ``END``
  terminator, ``<UNIT>`` annotations;
* ``^IMAGE`` pointers in all published spellings (inline record,
  inline ``<BYTES>``, detached ``("FILE")``, ``("FILE", n)``
  record- or byte-offset — ``pdsdataset.cpp:790-840``), plus the
  ``^SPECTRAL_QUBE``/``^QUBE`` fallbacks;
* raw layouts BSQ/BIL/BIP from ``AXIS_NAME``/``CORE_ITEMS`` or
  ``LINES``/``LINE_SAMPLES``/``BANDS``, overridden by
  ``BAND_STORAGE_TYPE`` (LINE_INTERLEAVED → BIL etc.),
  ``LINE_PREFIX_BYTES`` and the quirk that the prefix joins the skip
  offset AND the line stride (``:993-1010, 1204``, pinned on the
  map_000_038 fixture whose line offset is not a multiple of
  RECORD_BYTES);
* SAMPLE_TYPE/SAMPLE_BITS → UInt8/(U)Int16/Float32/Float64 with the
  PDS default nodata per type (0 / -32768 / -3.40282265...e38),
  ``MISSING(_CONSTANT)`` overrides incl. the ``16#xxxxxxxx#``
  hex-float form (#3939), ``SCALING_FACTOR``/``OFFSET``;
* georeferencing from ``IMAGE_MAP_PROJECTION``: MAP_SCALE with
  M/CM/KM units, LINE/SAMPLE_PROJECTION_OFFSET with the PDS3 default
  half-pixel shifts (overridable like the
  ``PDS_SampleProjOffset_Shift`` config options),
  ``MAP_PROJECTION_ROTATION`` rotation matrix (``:700-726``), and
  the ``UNCOMPRESSED_FILE.`` prefix fallback;
* ``COMPRESSED_FILE`` delegation: the detached file opens through
  the repo's codec sniffer (the autotest's "JP2" fixture is really a
  GeoTIFF) with UNCOMPRESSED_FILE scale/offset applied; ``.ZIP``
  payloads unpack via ``zipfile``.

Pinned on the published autotest checksums 47151 / 34962 / 1367 /
3418 / 2748 / 4672 / 50938 / 14019 / 64740, the published
geotransforms (incl. the rotated oblique-cylindrical BIBQH03 one),
scale/offset/nodata values, and the hex-float nodata
(``tests/test_pds.py``).
"""

from __future__ import annotations

import io
import re
import struct
import zipfile

import numpy as np

PDS_NULL1 = 0.0
PDS_NULL2 = -32768.0
PDS_NULL3 = -3.4028226550889044521e+38


# -------------------------------------------------------------- ODL parser

_COMMENT_RE = re.compile(r"/\*.*?\*/", re.S)


def parse_label(text: str) -> dict:
    """ODL label → {dotted.key: raw value string}."""
    text = _COMMENT_RE.sub("", text)
    lines = text.splitlines()
    kv: dict[str, str] = {}
    path: list[str] = []
    i = 0
    n = len(lines)
    while i < n:
        line = lines[i].strip()
        i += 1
        if not line:
            continue
        if line == "END":
            break
        up = line.upper()
        if up.startswith("END_OBJECT") or up.startswith("END_GROUP"):
            if path:
                path.pop()
            continue
        m = re.match(r"([\^\w:]+)\s*=\s*(.*)", line)
        if not m:
            continue
        key, val = m.group(1), m.group(2).strip()
        # continuation: quotes or parens unbalanced, or bare multi-line
        # quoted strings
        while (val.count('"') % 2 == 1
               or val.count("(") > val.count(")")
               or val.count("{") > val.count("}")) and i < n:
            val += " " + lines[i].strip()
            i += 1
        if key.upper() == "OBJECT" or key.upper() == "GROUP":
            path.append(val.strip())
            continue
        full = ".".join(path + [key])
        kv[full] = val
    return kv


def _clean(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] in "\"'" and v[-1] == v[0]:
        v = v[1:-1]
    return v.strip()


def _sub(value: str, idx: int, default: str = "") -> str:
    """GetKeywordSub: 1-based element of a (a,b,c) list."""
    v = value.strip()
    if not v.startswith("("):
        return default
    parts = [p.strip() for p in v.strip("()").split(",")]
    if 1 <= idx <= len(parts):
        return parts[idx - 1]
    return default


def _unit(value: str) -> str:
    """First component of a <KM/PIXEL>-style unit annotation."""
    m = re.search(r"<([^>/]+)", value)
    return m.group(1).strip() if m else ""


def _num(value: str, default: float = 0.0) -> float:
    m = re.match(r"\s*[-+0-9.eE]+", value)
    try:
        return float(m.group(0)) if m else default
    except ValueError:
        return default


def _hex_float(text: str) -> float | None:
    m = re.match(r'"?16#([0-9A-Fa-f]{8})#', text.strip())
    if not m:
        return None
    return float(np.frombuffer(bytes.fromhex(m.group(1)), ">f4")[0])


# ------------------------------------------------------------------ reader

def read_pds(label_bytes: bytes, resolve=None,
             sample_shift: float = 0.5, line_shift: float = 0.5,
             sample_mult: float = -1.0, line_mult: float = 1.0,
             header_only: bool = False, window=None):
    """Decode a PDS3 dataset.  ``label_bytes`` is the .lbl (or the
    attached-label .img) content; ``resolve(filename) -> bytes``
    supplies detached files.  The four shift/mult arguments mirror
    the PDS_SampleProjOffset_* config options and their PDS3
    defaults."""
    text = label_bytes[:1024 * 1024].decode("latin-1")
    kv = parse_label(text)
    if "PDS_VERSION_ID" not in kv and "RECORD_TYPE" not in kv and \
            not any(k.startswith("^") for k in kv):
        raise ValueError("not a PDS3 label")

    def key(k, default=""):
        return kv.get(k, default)

    # COMPRESSED_FILE handling (pdsdataset.cpp:1457-1523): ZIP
    # containers switch to the UNCOMPRESSED_FILE prefix with the zip
    # as filename container; other encodings delegate the detached
    # file to whatever codec sniffs it (the autotest "JP2" is a tif).
    delegated = None
    zip_container = None
    enc_top = _clean(key("COMPRESSED_FILE.ENCODING_TYPE"))
    uncomp_name = _clean(key("UNCOMPRESSED_FILE.IMAGE.NAME")
                         or key("UNCOMPRESSED_FILE.FILE_NAME"))
    if enc_top.upper() == "ZIP" and key("COMPRESSED_FILE.FILE_NAME") \
            and uncomp_name:
        zip_container = _clean(key("COMPRESSED_FILE.FILE_NAME"))
    elif enc_top:
        fname = _clean(key("COMPRESSED_FILE.FILE_NAME"))
        if fname and resolve is not None and not header_only:
            payload = resolve(fname)
            from gdal_spark.raster import codec, tiff as _tiff
            if codec.identify(payload) == "tiff":
                arr, _ = _tiff.decode_full(payload)
                delegated = arr.squeeze()
            else:
                raise NotImplementedError(
                    f"PDS COMPRESSED_FILE payload {fname}: codec not "
                    "sniffable by this build")

    prefix = ""
    if not key("IMAGE_MAP_PROJECTION.MAP_PROJECTION_TYPE") and \
            key("UNCOMPRESSED_FILE.IMAGE_MAP_PROJECTION."
                "MAP_PROJECTION_TYPE"):
        prefix = "UNCOMPRESSED_FILE."

    # image-object prefix (pdsdataset.cpp:1507-1516)
    ipref = ""
    if uncomp_name:
        ipref = "UNCOMPRESSED_FILE."
    if not key("IMAGE.LINE_SAMPLES") and key("FILE.IMAGE.LINE_SAMPLES"):
        ipref = "FILE."

    # ---- image pointer
    img_kw = "IMAGE"
    q = key(ipref + "^IMAGE")
    if not q:
        img_kw, q = "SPECTRAL_QUBE", key(ipref + "^SPECTRAL_QUBE")
    if not q:
        img_kw, q = "QUBE", key(ipref + "^QUBE")
    n_qube = int(_num(q)) if q else 0
    detached_name = None
    detached_off = 0
    detached_in_bytes = False
    if q.startswith("("):
        detached_name = _clean(_sub(q, 1))
        second = _sub(q, 2, "1")
        detached_off = int(_num(second, 1.0))
        if detached_off >= 1:
            detached_off -= 1
        detached_in_bytes = "<BYTES>" in second
    elif q.startswith('"'):
        detached_name = _clean(q)

    enc = _clean(key(ipref + "IMAGE.ENCODING_TYPE", "N/A"))
    if delegated is None and enc not in ("N/A", "DCT_DECOMPRESSED", ""):
        raise NotImplementedError(
            f"PDS ENCODING_TYPE {enc!r}: compressed images unsupported "
            "(matches the reference)")

    # ---- layout
    axis = key(ipref + img_kw + ".AXIS_NAME", "").replace(" ", "")
    if axis.upper() == "(SAMPLE,LINE,BAND)":
        layout = "BSQ"
        core = key(ipref + img_kw + ".CORE_ITEMS")
        w, h, bands = (int(_sub(core, i, "1")) for i in (1, 2, 3))
    elif axis.upper() == "(BAND,LINE,SAMPLE)":
        layout = "BIP"
        core = key(ipref + img_kw + ".CORE_ITEMS")
        bands, h, w = (int(_sub(core, i, "1")) for i in (1, 2, 3))
    elif axis.upper() == "(SAMPLE,BAND,LINE)":
        layout = "BIL"
        core = key(ipref + img_kw + ".CORE_ITEMS")
        w, bands, h = (int(_sub(core, i, "1")) for i in (1, 2, 3))
    elif axis == "":
        layout = "BSQ"
        w = int(_num(key(ipref + img_kw + ".LINE_SAMPLES", "0")))
        h = int(_num(key(ipref + img_kw + ".LINES", "0")))
        bands = int(_num(key(ipref + img_kw + ".BANDS", "1")))
    else:
        raise ValueError(f"PDS layout {axis} not supported")

    bst = _clean(key(ipref + "IMAGE.BAND_STORAGE_TYPE", ""))
    if bst.upper() == "BAND_SEQUENTIAL":
        layout = "BSQ"
    elif bst.upper() == "PIXEL_INTERLEAVED":
        layout = "BIP"
    elif bst.upper() == "LINE_INTERLEAVED":
        layout = "BIL"

    record_bytes = int(_num(key(ipref + "IMAGE.RECORD_BYTES", "0")))
    if record_bytes == 0:
        record_bytes = int(_num(key("RECORD_BYTES", "0")))
    if record_bytes <= 0:
        record_bytes = 1

    if n_qube > 0:
        skip = (n_qube - 1) if "<BYTES>" in q else (n_qube - 1) * record_bytes
    elif detached_off > 0:
        skip = detached_off if detached_in_bytes \
            else detached_off * record_bytes
    else:
        skip = 0
    line_prefix = int(_num(key(ipref + "IMAGE.LINE_PREFIX_BYTES", "0")))
    skip += line_prefix

    # ---- sample type
    st = _clean(key(ipref + "IMAGE.SAMPLE_TYPE"))
    little = st.upper() in ("LSB_INTEGER", "LSB", "LSB_UNSIGNED_INTEGER",
                            "LSB_SIGNED_INTEGER", "UNSIGNED_INTEGER",
                            "VAX_REAL", "VAX_INTEGER", "PC_INTEGER",
                            "PC_REAL")
    sb = key(ipref + "IMAGE.SAMPLE_BITS", "")
    nodata = 0.0
    if sb:
        bits = int(_num(sb))
        if bits == 8:
            dt, nodata = np.dtype(np.uint8), PDS_NULL1
        elif bits == 16:
            if "UNSIGNED" in st.upper():
                dt, nodata = np.dtype(np.uint16), PDS_NULL1
            else:
                dt, nodata = np.dtype(np.int16), PDS_NULL2
        elif bits == 32:
            dt, nodata = np.dtype(np.float32), PDS_NULL3
        elif bits == 64:
            dt, nodata = np.dtype(np.float64), PDS_NULL3
        else:
            raise ValueError(f"PDS SAMPLE_BITS {bits} unsupported")
        offset = _num(key(ipref + "IMAGE.OFFSET", "0.0"))
        scale = _num(key(ipref + "IMAGE.SCALING_FACTOR", "1.0"), 1.0)
    else:
        cib = int(_num(key(ipref + "SPECTRAL_QUBE.CORE_ITEM_BYTES", "1")))
        dt = {1: np.dtype(np.uint8), 2: np.dtype(np.uint16)
              if "UNSIGNED" in st.upper() else np.dtype(np.int16),
              4: np.dtype(np.float32)}.get(cib)
        if dt is None:
            raise ValueError(f"CORE_ITEM_BYTES {cib} unsupported")
        cn = key(ipref + "SPECTRAL_QUBE.CORE_NULL", "")
        nodata = _num(cn) if cn else 0.0
        offset = _num(key(ipref + "SPECTRAL_QUBE.CORE_BASE", "0.0"))
        scale = _num(key(ipref + "SPECTRAL_QUBE.CORE_MULTIPLIER",
                         "1.0"), 1.0)

    missing = kv.get(ipref + "IMAGE.MISSING",
                     kv.get(ipref + "IMAGE.MISSING_CONSTANT"))
    if missing is not None:
        hx = _hex_float(missing)
        if hx is not None and dt.kind == "f":
            nodata = hx
        else:
            nodata = _num(missing.lstrip('"'))

    # ---- georeferencing
    gt = None
    ms = key(prefix + "IMAGE_MAP_PROJECTION.MAP_SCALE")
    if ms:
        xdim = _num(ms)
        ydim = -xdim
        unit = _unit(ms)
        if unit.upper() in ("M", "METER", "METERS"):
            pass
        elif unit.upper() == "CM":
            xdim, ydim = xdim / 100.0, ydim / 100.0
        else:
            xdim, ydim = xdim * 1000.0, ydim * 1000.0
        ulx = uly = 0.5
        lpo = key(prefix + "IMAGE_MAP_PROJECTION.LINE_PROJECTION_OFFSET")
        if lpo:
            uly = (_num(lpo) + line_shift) * -ydim * line_mult
        spo = key(prefix + "IMAGE_MAP_PROJECTION.SAMPLE_PROJECTION_OFFSET")
        if spo:
            ulx = (_num(spo) + sample_shift) * xdim * sample_mult
        gt = [ulx, xdim, 0.0, uly, 0.0, ydim]
        rot = _num(key(prefix
                       + "IMAGE_MAP_PROJECTION.MAP_PROJECTION_ROTATION",
                       "0"))
        if rot != 0:
            s = 1.0 if rot == 90 else np.sin(rot / 180.0 * np.pi)
            c = 0.0 if rot == 90 else np.cos(rot / 180.0 * np.pi)
            g0, g1, g2, g3, g4, g5 = gt
            gt = [c * g0 - s * g3, c * g1 - s * g2, c * g2 - s * g5,
                  s * g0 + c * g3, s * g1 + c * g4, s * g2 + c * g5]
        gt = tuple(gt)

    info = {
        "w": (delegated.shape[1] if delegated is not None else w),
        "h": (delegated.shape[0] if delegated is not None else h),
        "bands": bands if delegated is None else 1,
        "dtype": dt.name, "layout": layout, "nodata": nodata,
        "scale": scale, "offset": offset, "geotransform": gt,
        "target": _clean(key("TARGET_NAME")),
        "projection": _clean(key(
            prefix + "IMAGE_MAP_PROJECTION.MAP_PROJECTION_TYPE")),
        "detached_file": detached_name,
        "record_bytes": record_bytes, "skip_bytes": skip,
    }
    if header_only:
        return None, info
    if delegated is not None:
        return delegated, info
    if w <= 0 or h <= 0:
        raise ValueError("PDS label lacks image dimensions")

    if detached_name is not None:
        if resolve is None:
            raise ValueError("detached PDS image needs a resolve callback")
        if zip_container is not None:
            # /vsizip/ equivalent: the image lives inside the zip
            zf = zipfile.ZipFile(io.BytesIO(resolve(zip_container)))
            member = next((m for m in zf.namelist()
                           if m.lower() == detached_name.lower()),
                          zf.namelist()[0])
            data = zf.read(member)
        else:
            data = resolve(detached_name)
            if detached_name.upper().endswith(".ZIP") or data[:2] == b"PK":
                zf = zipfile.ZipFile(io.BytesIO(data))
                data = zf.read(zf.namelist()[0])
    else:
        data = label_bytes

    item = dt.itemsize
    edt = dt.newbyteorder("<" if little else ">")
    # strides (pdsdataset.cpp:1204-1243): the line prefix joins both
    # the skip offset and the line stride
    if layout == "BIP":
        pixel_off = item * bands
        band_off = item
        line_off = line_prefix + pixel_off * w
    elif layout == "BSQ":
        pixel_off = item
        line_off = line_prefix + pixel_off * w
        band_off = line_off * h
    else:  # BIL
        pixel_off = item
        band_off = item * w
        line_off = line_prefix + band_off * bands

    x0 = y0 = 0
    if window is not None:
        x0, y0, w, h = window
    raw = np.frombuffer(data, np.uint8)
    cube = np.empty((h, w, bands), dt)
    for b in range(bands):
        base = skip + band_off * b + y0 * line_off + x0 * pixel_off
        # strided view over the byte buffer
        need = base + (h - 1) * line_off + (w - 1) * pixel_off + item
        if need > len(raw):
            raise ValueError(
                f"PDS image truncated: need {need} bytes, have {len(raw)}")
        v = np.lib.stride_tricks.as_strided(
            raw[base:], shape=(h, w, item), strides=(line_off, pixel_off, 1))
        cube[:, :, b] = np.ascontiguousarray(v).view(edt)[:, :, 0]
    arr = cube[:, :, 0] if bands == 1 else cube
    return arr, info
