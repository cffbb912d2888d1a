"""EXIF metadata extraction + fixture planting — pure stdlib, over the
TIFF IFD machinery (r13 verdict next-round #4: "EXIF is an IFD at a
known offset; real corpora need orientation/timestamp/camera fields
for dedup normalization and PII audit (GPS tags)").

Format facts (public Exif 2.3 / TIFF 6.0 specs):

* In a TIFF file, EXIF lives in the SAME TIFF structure: IFD0 carries
  tag 34665 (Exif IFD pointer) and/or 34853 (GPS IFD pointer), each a
  LONG absolute offset to another IFD in the file; orientation (274),
  Make (271), Model (272) and DateTime (306) sit directly in IFD0.
* In a JPEG file, EXIF is an APP1 segment (marker 0xFFE1) whose
  payload is ``Exif\\0\\0`` followed by a COMPLETE EMBEDDED TIFF
  structure (its own byte-order header; all offsets relative to that
  header) — so one parser serves both containers.
* GPS latitude/longitude are each three RATIONALs (deg, min, sec)
  plus an ASCII hemisphere ref (N/S/E/W); decimal degrees are
  ``deg + min/60 + sec/3600``, negated for S/W.

The reader (:func:`extract_exif`) walks IFD0 → Exif IFD → GPS IFD
with a typed entry parser (ASCII and RATIONAL included — the decode
walker in ``functions/tiff.py`` deliberately keeps only integer
types) and NEVER raises on malformed metadata: EXIF is advisory; a
corrupt APP1 yields ``None`` exactly like its absence, while image
DECODING correctness stays the codec modules' job.  The writer side
(:func:`add_tiff_exif`, :func:`insert_jpeg_exif`) plants
deterministic metadata for the declared fixture — appending Exif/GPS
IFDs after a single-page TIFF's trailing IFD (rebuilt sorted, all
offsets word-aligned per TIFF 6.0) or building the self-contained
APP1 TIFF block for JPEG.

PII note: GPS tags ARE the canonical image-PII vector; a training
pipeline surfaces them (``q_image_exif``) so curation can gate or
strip.  Scale: extraction is a pure-bytes walk per payload inside the
same Arrow-batched ``mapInPandas`` shape as every codec path —
payload bytes never cross a shuffle.

No counterpart in the reference repo (822-LoC Glue ETL lab, no
multimodal surface).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: IFD0 tags
TAG_MAKE = 271
TAG_MODEL = 272
TAG_ORIENTATION = 274
TAG_DATETIME = 306
TAG_EXIF_IFD = 34665
TAG_GPS_IFD = 34853
#: Exif-IFD tags
TAG_DATETIME_ORIGINAL = 36867
#: GPS-IFD tags
TAG_GPS_LAT_REF = 1
TAG_GPS_LAT = 2
TAG_GPS_LON_REF = 3
TAG_GPS_LON = 4

_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


class _KeepOffset:
    """Sentinel value for :func:`_pack_ifd`: an entry whose value is
    an out-of-line blob that ALREADY exists in the file — serialize
    count + offset verbatim, append nothing."""

    def __init__(self, count: int, off: int) -> None:
        self.count = count
        self.off = off


def _read_ifd_typed(data: bytes, bo: str, at: int) -> dict[int, object]:
    """One IFD as ``{tag: value}`` with EXIF-relevant typing: ASCII →
    stripped str, RATIONAL/SRATIONAL → list of floats, integers →
    list of ints.  Bounds violations raise ValueError (callers treat
    any failure as 'no EXIF')."""
    if at + 2 > len(data):
        raise ValueError("IFD offset out of range")
    (n,) = struct.unpack(bo + "H", data[at : at + 2])
    out: dict[int, object] = {}
    for i in range(n):
        e = at + 2 + 12 * i
        if e + 12 > len(data):
            raise ValueError("IFD entry out of range")
        tag, typ = struct.unpack(bo + "HH", data[e : e + 4])
        (count,) = struct.unpack(bo + "I", data[e + 4 : e + 8])
        if typ not in _SIZES or count > 1 << 20:
            continue
        nbytes = _SIZES[typ] * count
        if nbytes <= 4:
            raw = data[e + 8 : e + 8 + nbytes]
        else:
            (off,) = struct.unpack(bo + "I", data[e + 8 : e + 12])
            if off + nbytes > len(data):
                raise ValueError("tag value out of range")
            raw = data[off : off + nbytes]
        if typ == 2:  # ASCII, NUL-terminated
            out[tag] = raw.split(b"\x00")[0].decode("ascii", "replace")
        elif typ in (5, 10):  # (S)RATIONAL pairs
            f = "II" if typ == 5 else "ii"
            vals = []
            for j in range(count):
                num, den = struct.unpack(
                    bo + f, raw[8 * j : 8 * j + 8]
                )
                vals.append(num / den if den else 0.0)
            out[tag] = vals
        elif typ == 7:  # UNDEFINED: raw bytes
            out[tag] = raw
        else:
            f = {1: "B", 3: "H", 4: "I", 9: "i"}[typ]
            out[tag] = list(struct.unpack(bo + f * count, raw))
    return out


def _gps_decimal(vals, ref: str | None, neg_refs: str) -> float | None:
    if not isinstance(vals, list) or len(vals) != 3:
        return None
    deg = vals[0] + vals[1] / 60 + vals[2] / 3600
    if ref and ref.strip().upper() in neg_refs:
        deg = -deg
    return deg


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _tiff_block_of(data: bytes) -> bytes | None:
    """Locate the TIFF structure holding the EXIF IFDs: the file
    itself for TIFF, the APP1 ``Exif\\0\\0`` payload for JPEG, the
    ``eXIf`` chunk for PNG (PNG extension spec 1.5.0: the chunk
    payload IS a raw TIFF block), else None."""
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return data
    if data[:8] == _PNG_SIG:
        at = 8
        while at + 8 <= len(data):
            (n,) = struct.unpack(">I", data[at : at + 4])
            ctype = data[at + 4 : at + 8]
            if ctype == b"eXIf":
                return data[at + 8 : at + 8 + n]
            if ctype == b"IEND":
                return None
            at += 12 + n  # len + type + payload + crc
        return None
    if data[:2] != b"\xff\xd8":  # not a JPEG either
        return None
    # JPEG marker walk (standalone: EXIF extraction must not depend
    # on the full decoder accepting the stream)
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: no APP1 seen
            return None
        (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            return seg[6:]
        i += 2 + seg_len
    return None


def extract_exif(data: bytes) -> dict | None:
    """EXIF fields of one image payload, or ``None`` when the
    container carries none (or the metadata is malformed — EXIF is
    advisory, so extraction never raises on bad bytes):
    ``{orientation, make, model, datetime_original, gps_lat,
    gps_lon}`` with absent fields None.  ``datetime_original`` falls
    back to IFD0's DateTime when the Exif IFD lacks 36867."""
    try:
        block = _tiff_block_of(data)
        if block is None or len(block) < 8:
            return None
        if block[:4] == b"II*\x00":
            bo = "<"
        elif block[:4] == b"MM\x00*":
            bo = ">"
        else:
            return None
        (ifd0_at,) = struct.unpack(bo + "I", block[4:8])
        ifd0 = _read_ifd_typed(block, bo, ifd0_at)
        exif_ifd: dict = {}
        gps_ifd: dict = {}
        # A malformed IFD can declare the Exif/GPS *pointer* tags
        # (34665/34853) with a non-integral type — ASCII yields a str,
        # RATIONAL a float — so dereference only values that are
        # genuinely integer offsets; anything else is corrupt-but-
        # advisory metadata, not a reason to poison the batch.
        def _ptr(tag: int) -> int | None:
            v = ifd0.get(tag)
            if isinstance(v, list) and v and isinstance(v[0], int):
                return v[0]
            return None

        exif_at = _ptr(TAG_EXIF_IFD)
        gps_at = _ptr(TAG_GPS_IFD)
        if exif_at is not None:
            exif_ifd = _read_ifd_typed(block, bo, exif_at)
        if gps_at is not None:
            gps_ifd = _read_ifd_typed(block, bo, gps_at)
        if not (
            exif_ifd
            or gps_ifd
            or any(
                t in ifd0
                for t in (TAG_ORIENTATION, TAG_MAKE, TAG_MODEL, TAG_DATETIME)
            )
        ):
            return None
        ori = ifd0.get(TAG_ORIENTATION)
        return {
            "orientation": ori[0] if isinstance(ori, list) and ori else None,
            "make": ifd0.get(TAG_MAKE),
            "model": ifd0.get(TAG_MODEL),
            "datetime_original": exif_ifd.get(TAG_DATETIME_ORIGINAL)
            or ifd0.get(TAG_DATETIME),
            "gps_lat": _gps_decimal(
                gps_ifd.get(TAG_GPS_LAT), gps_ifd.get(TAG_GPS_LAT_REF), "S"
            ),
            "gps_lon": _gps_decimal(
                gps_ifd.get(TAG_GPS_LON), gps_ifd.get(TAG_GPS_LON_REF), "W"
            ),
        }
    except (ValueError, struct.error, IndexError, KeyError, TypeError):
        return None


# ------------------------------------------------------------- writers

def _pack_ifd(
    bo: str,
    entries: list[tuple[int, int, object]],
    ifd_at: int,
    next_ptr: int = 0,
) -> bytes:
    """Serialize one IFD at absolute offset ``ifd_at``: entries sorted
    by tag (TIFF 6.0 requirement), out-of-line values appended after
    the next-IFD pointer, everything word-aligned."""
    fmts = {1: "B", 3: "H", 4: "I"}
    packed = []
    blobs = bytearray()
    blob_at = ifd_at + 2 + 12 * len(entries) + 4
    for tag, typ, value in sorted(entries, key=lambda e: e[0]):
        if isinstance(value, _KeepOffset):
            # the value blob already exists in the file before the IFD
            packed.append((tag, typ, value.count, value.off))
            continue
        if typ == 2:
            raw = str(value).encode("ascii") + b"\x00"
        elif typ == 5:
            raw = b"".join(
                struct.pack(bo + "II", num, den) for num, den in value
            )
        else:
            vals = value if isinstance(value, list) else [value]
            raw = struct.pack(bo + fmts[typ] * len(vals), *vals)
        count = (
            len(raw)
            if typ == 2
            else (len(value) if typ == 5 else
                  (len(value) if isinstance(value, list) else 1))
        )
        if len(raw) <= 4:
            packed.append((tag, typ, count, raw.ljust(4, b"\x00")))
        else:
            if len(raw) % 2:
                raw += b"\x00"
            packed.append((tag, typ, count, blob_at + len(blobs)))
            blobs += raw
    out = bytearray(struct.pack(bo + "H", len(packed)))
    for tag, typ, count, val in packed:
        out += struct.pack(bo + "HHI", tag, typ, count)
        out += val if isinstance(val, bytes) else struct.pack(bo + "I", val)
    out += struct.pack(bo + "I", next_ptr)
    out += blobs
    return bytes(out)


def _exif_entries(bo: str, exif: dict, base: int) -> tuple[list, bytes]:
    """(IFD0 entries, trailing bytes holding the Exif/GPS sub-IFDs
    laid out from absolute offset ``base``)."""
    ifd0: list[tuple[int, int, object]] = []
    if exif.get("orientation") is not None:
        ifd0.append((TAG_ORIENTATION, 3, int(exif["orientation"])))
    if exif.get("make") is not None:
        ifd0.append((TAG_MAKE, 2, exif["make"]))
    if exif.get("model") is not None:
        ifd0.append((TAG_MODEL, 2, exif["model"]))
    tail = bytearray()
    if exif.get("datetime_original") is not None:
        at = base + len(tail)
        ifd0.append((TAG_EXIF_IFD, 4, at))
        tail += _pack_ifd(
            bo,
            [(TAG_DATETIME_ORIGINAL, 2, exif["datetime_original"])],
            at,
        )
        if len(tail) % 2:
            tail += b"\x00"
    if exif.get("gps") is not None:
        lat_ref, lat_dms, lon_ref, lon_dms = exif["gps"]
        at = base + len(tail)
        ifd0.append((TAG_GPS_IFD, 4, at))
        tail += _pack_ifd(
            bo,
            [
                (TAG_GPS_LAT_REF, 2, lat_ref),
                (TAG_GPS_LAT, 5, [(v, 1) for v in lat_dms]),
                (TAG_GPS_LON_REF, 2, lon_ref),
                (TAG_GPS_LON, 5, [(v, 1) for v in lon_dms]),
            ],
            at,
        )
        if len(tail) % 2:
            tail += b"\x00"
    return ifd0, bytes(tail)


def add_tiff_exif(data: bytes, exif: dict) -> bytes:
    """Plant EXIF into a SINGLE-PAGE TIFF whose IFD is the file's last
    structure (the shape our encoder emits): IFD0 is rebuilt sorted
    with the metadata tags added, sub-IFDs append at EOF, and every
    pre-existing offset stays valid because nothing before the IFD
    moves.  ``exif`` keys: orientation, make, model,
    datetime_original, gps=(lat_ref, (d,m,s), lon_ref, (d,m,s))."""
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_at,) = struct.unpack(bo + "I", data[4:8])
    (n,) = struct.unpack(bo + "H", data[ifd_at : ifd_at + 2])
    tail_at = ifd_at + 2 + 12 * n + 4
    (next_ptr,) = struct.unpack(bo + "I", data[tail_at - 4 : tail_at])
    if next_ptr != 0:
        raise NotImplementedError("EXIF planting on multi-page TIFF")
    entries: list[tuple[int, int, object]] = []
    fmts = {1: "B", 3: "H", 4: "I"}
    sizes = {1: 1, 3: 2, 4: 4}
    ifd0_meta_probe, _ = _exif_entries(bo, exif, 0)
    planted_tags = {t for t, _typ, _v in ifd0_meta_probe}
    for i in range(n):
        e = ifd_at + 2 + 12 * i
        tag, typ = struct.unpack(bo + "HH", data[e : e + 4])
        if tag in planted_tags:
            # planting over an existing metadata tag REPLACES it — a
            # duplicate tag in one IFD is malformed TIFF
            continue
        (count,) = struct.unpack(bo + "I", data[e + 4 : e + 8])
        if typ not in sizes:
            raise NotImplementedError(f"IFD0 entry type {typ} in rebuild")
        nbytes = sizes[typ] * count
        if nbytes <= 4:
            vals = list(
                struct.unpack(
                    bo + fmts[typ] * count, data[e + 8 : e + 8 + nbytes]
                )
            )
            entries.append((tag, typ, vals))
        else:
            # out-of-line value stays where it is: keep the raw offset
            (off,) = struct.unpack(bo + "I", data[e + 8 : e + 12])
            entries.append((tag, typ, _KeepOffset(count, off)))
    prefix = data[:ifd_at]
    # sub-IFDs land after the rebuilt IFD0 (+ its new blobs); a
    # placeholder pass measures IFD0's serialized size first (the
    # metadata entries are offset-independent in length)
    ifd0_meta, _ = _exif_entries(bo, exif, 0)
    placeholder = _pack_ifd(bo, entries + ifd0_meta, ifd_at)
    sub_base = ifd_at + len(placeholder)
    if sub_base % 2:
        sub_base += 1
    ifd0_meta, tail = _exif_entries(bo, exif, sub_base)
    final = _pack_ifd(bo, entries + ifd0_meta, ifd_at)
    pad = b"\x00" * (sub_base - ifd_at - len(final))
    return prefix + final + pad + tail


def build_jpeg_exif_app1(exif: dict, big_endian: bool = False) -> bytes:
    """The APP1 segment bytes (marker + length + ``Exif\\0\\0`` + a
    self-contained little/big-endian TIFF block holding only metadata
    IFDs)."""
    bo = ">" if big_endian else "<"
    header = (b"II*\x00" if bo == "<" else b"MM\x00*") + struct.pack(
        bo + "I", 8
    )
    ifd0_meta, _ = _exif_entries(bo, exif, 0)
    probe = _pack_ifd(bo, ifd0_meta, 8)
    sub_base = 8 + len(probe)
    if sub_base % 2:
        sub_base += 1
    ifd0_meta, tail = _exif_entries(bo, exif, sub_base)
    ifd0 = _pack_ifd(bo, ifd0_meta, 8)
    block = header + ifd0 + b"\x00" * (sub_base - 8 - len(ifd0)) + tail
    payload = b"Exif\x00\x00" + block
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_jpeg_exif(jpeg: bytes, exif: dict) -> bytes:
    """Insert the EXIF APP1 right after SOI (the spec's position)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    return jpeg[:2] + build_jpeg_exif_app1(exif) + jpeg[2:]


def insert_png_exif(png_data: bytes, exif: dict) -> bytes:
    """Insert an ``eXIf`` chunk right after IHDR (PNG extension spec
    1.5.0: payload is a complete TIFF block; the chunk is ancillary,
    so EXIF-unaware decoders skip it and pixels are untouched)."""
    import zlib

    if png_data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    bo = "<"
    header = b"II*\x00" + struct.pack(bo + "I", 8)
    ifd0_meta, _ = _exif_entries(bo, exif, 0)
    probe = _pack_ifd(bo, ifd0_meta, 8)
    sub_base = 8 + len(probe)
    if sub_base % 2:
        sub_base += 1
    ifd0_meta, tail = _exif_entries(bo, exif, sub_base)
    ifd0 = _pack_ifd(bo, ifd0_meta, 8)
    block = header + ifd0 + b"\x00" * (sub_base - 8 - len(ifd0)) + tail
    chunk = (
        struct.pack(">I", len(block))
        + b"eXIf"
        + block
        + struct.pack(">I", zlib.crc32(b"eXIf" + block) & 0xFFFFFFFF)
    )
    # IHDR is always first: signature(8) + len(4) + type(4) + 13 + crc(4)
    at = 8 + 4 + 4 + 13 + 4
    return png_data[:at] + chunk + png_data[at:]


# ----------------------------------------------- orientation normalize

def normalize_orientation(
    width: int, height: int, channels: int, pixels: bytes, orientation: int
) -> tuple[int, int, bytes]:
    """Apply the display transform EXIF orientation ``o`` instructs
    (Exif 2.3 tag 274: the value names where row 0 / column 0 of the
    STORED raster sit in the upright scene), returning the upright
    ``(width, height, pixels)``:

    ========  ==========================  ==================
    value     stored row0/col0            display transform
    ========  ==========================  ==================
    1         top / left                  identity
    2         top / right                 mirror horizontal
    3         bottom / right              rotate 180
    4         bottom / left               mirror vertical
    5         left / top                  transpose (TL-BR)
    6         right / top                 rotate 90 CW
    7         right / bottom              transverse (TR-BL)
    8         left / bottom               rotate 270 CW
    ========  ==========================  ==================

    This is the dedup-normalization primitive: without it the same
    photo saved under its 8 orientations yields 8 distinct pixel
    fingerprints (``q_image_dedup_oriented``)."""
    import numpy as np

    if not 1 <= orientation <= 8:
        raise ValueError(f"EXIF orientation {orientation} out of range")
    a = np.frombuffer(pixels, np.uint8).reshape(height, width, channels)
    if orientation == 2:
        a = a[:, ::-1]
    elif orientation == 3:
        a = a[::-1, ::-1]
    elif orientation == 4:
        a = a[::-1, :]
    elif orientation == 5:
        a = np.transpose(a, (1, 0, 2))
    elif orientation == 6:
        # stored col 0 is the scene's top row: display = rot90 CW
        a = np.transpose(a, (1, 0, 2))[:, ::-1]
    elif orientation == 7:
        a = np.transpose(a[::-1, ::-1], (1, 0, 2))
    elif orientation == 8:
        a = np.transpose(a, (1, 0, 2))[::-1, :]
    h2, w2 = a.shape[0], a.shape[1]
    return w2, h2, np.ascontiguousarray(a).tobytes()


def inverse_orientation(
    width: int, height: int, channels: int, pixels: bytes, orientation: int
) -> tuple[int, int, bytes]:
    """Store an upright raster AS IF captured under ``orientation``:
    the inverse of :func:`normalize_orientation` (involutions invert
    themselves; 6 and 8 invert each other), used by the fixture."""
    inv = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}
    return normalize_orientation(
        width, height, channels, pixels, inv[orientation]
    )


def oriented_fingerprints(
    media: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Per-image RAW and ORIENTATION-NORMALIZED pixel fingerprints —
    the dedup-normalization operator: decode with the real codecs,
    read EXIF orientation (default 1 when absent/unreadable), undo
    the stored rotation, and md5 both pixel buffers (dims prefixed,
    so a transpose can never collide with its source).  Arrow-batched
    ``mapInPandas``; payloads never shuffle."""
    import hashlib

    import pandas as pd

    from .multimodal import decode_image

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("orientation", IntegerType(), False),
            StructField("raw_fp", StringType(), False),
            StructField("norm_fp", StringType(), False),
        ]
    )

    def fp(w: int, h: int, px: bytes) -> str:
        return hashlib.md5(f"{w}x{h}|".encode() + px).hexdigest()

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                data = bytes(payload)
                w, h, ch, px = decode_image(data)
                info = extract_exif(data) or {}
                o = info.get("orientation") or 1
                w2, h2, px2 = normalize_orientation(w, h, ch, px, o)
                rows.append(
                    {
                        "media_id": int(mid),
                        "orientation": int(o),
                        "raw_fp": fp(w, h, px),
                        "norm_fp": fp(w2, h2, px2),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return media.select("media_id", payload_col).mapInPandas(
        batches, schema=schema
    )


def oriented_media_from_ids(
    ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Fixture for the oriented-dedup query: ids in the same group of
    8 (``gid = id // 8``) share one upright 9x6 RGB scene
    (asymmetric formula — no dihedral symmetry, so all 8 stored
    variants are pairwise distinct buffers), each stored under EXIF
    orientation ``(id % 8) + 1`` via :func:`inverse_orientation`
    inside a lossless TIFF with the tag planted — lossless container
    REQUIRED: JPEG's per-orientation DCT loss would break the exact
    normalized-fingerprint match.  Fans out through
    :func:`..session.spread` like the codec builders in
    :mod:`.multimodal`; building the DataFrame runs no Spark job."""
    import numpy as np
    import pandas as pd

    from ..session import spread
    from .multimodal import MEDIA_SCHEMA
    from . import tiff

    W, H = 9, 6

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for i in pdf[id_col]:
                mid = int(i)
                gid, o = mid // 8, (mid % 8) + 1
                x = np.arange(W)[None, :, None]
                y = np.arange(H)[:, None, None]
                c = np.arange(3)[None, None, :]
                base = ((gid * 37 + x * 13 + y * 101 + c * 7) % 256).astype(
                    np.uint8
                )
                w2, h2, px = inverse_orientation(
                    W, H, 3, base.tobytes(), o
                )
                data = tiff.encode_tiff(w2, h2, px, channels=3)
                payloads.append(
                    add_tiff_exif(data, {"orientation": o})
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "modality": "image",
                    "mime": "image/tiff",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return spread(ids.select(id_col), id_col).mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


# ------------------------------------------------------------- fixture

def exif_fixture_meta(media_id: int) -> dict | None:
    """Closed-form planted metadata for one id (None for the EXIF-free
    ids) — the formula the DuckDB oracle restates: ids ≡ 0 (mod 4)
    are TIFFs and ≡ 1 JPEGs with EXIF; ≡ 2 PNGs carrying a planted
    ``eXIf`` chunk (PNG extension spec 1.5.0) — so they DO have EXIF
    here — and only ≡ 3 (plain TIFFs) are EXIF-free.  GPS minutes are
    multiples of 15 so ``deg + min/60`` is binary-exact on both
    engines."""
    if media_id % 4 == 3:
        return None
    lat_ref = "N" if media_id % 2 == 0 else "S"
    lon_ref = "W" if media_id % 3 == 0 else "E"
    return {
        "orientation": 1 + media_id % 8,
        "make": "CamCo",
        "model": f"M{media_id % 5}",
        "datetime_original": f"2024:01:{1 + media_id % 28:02d} 12:00:00",
        "gps": (
            lat_ref,
            (media_id % 90, (media_id % 4) * 15, 0),
            lon_ref,
            ((media_id * 3) % 180, (media_id % 2) * 30, 0),
        ),
    }


def exif_media_from_ids(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mixed-container media table for the declared EXIF
    query: TIFF+EXIF / JPEG+EXIF / PNG+eXIf / TIFF-plain per id —
    real containers through the real codecs, metadata planted by the
    writers above (which Java ImageIO demonstrably resolves — see
    tests).  Fans out through :func:`..session.spread` like the codec
    builders in :mod:`.multimodal`; building the DataFrame runs no
    Spark job."""
    import pandas as pd

    from . import jpeg
    from ..session import spread
    from .multimodal import MEDIA_SCHEMA, _fixture_png, _fixture_tiff

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            payloads = []
            for i in pdf[id_col]:
                mid = int(i)
                meta = exif_fixture_meta(mid)
                if mid % 4 == 0:
                    payloads.append(
                        add_tiff_exif(_fixture_tiff(mid)[2], meta)
                    )
                elif mid % 4 == 1:
                    raw = bytes(
                        (mid * 13 + k * 5) % 256 for k in range(64)
                    )
                    payloads.append(
                        insert_jpeg_exif(jpeg.encode_jpeg(8, 8, raw), meta)
                    )
                elif mid % 4 == 2:
                    payloads.append(
                        insert_png_exif(_fixture_png(mid)[2], meta)
                    )
                else:
                    payloads.append(_fixture_tiff(mid)[2])
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "payload": payloads,
                    "modality": "image",
                    "mime": "image/*",
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return spread(ids.select(id_col), id_col).mapInPandas(
        batches, schema=MEDIA_SCHEMA
    )


# ------------------------------------------------------- spark surface

EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("has_exif", BooleanType(), False),
        StructField("orientation", IntegerType(), True),
        StructField("make", StringType(), True),
        StructField("model", StringType(), True),
        StructField("datetime_original", StringType(), True),
        StructField("gps_lat", DoubleType(), True),
        StructField("gps_lon", DoubleType(), True),
    ]
)


def exif_metadata(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Per-image EXIF relation — Arrow-batched ``mapInPandas``; the
    payload bytes never cross a shuffle (the same scale shape as every
    codec path in ``functions/multimodal.py``)."""
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                info = extract_exif(bytes(payload)) or {}
                rows.append(
                    {
                        "media_id": int(mid),
                        "has_exif": bool(info),
                        "orientation": info.get("orientation"),
                        "make": info.get("make"),
                        "model": info.get("model"),
                        "datetime_original": info.get("datetime_original"),
                        "gps_lat": info.get("gps_lat"),
                        "gps_lon": info.get("gps_lon"),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in EXIF_SCHEMA.fields],
            )

    return media.select("media_id", payload_col).mapInPandas(
        batches, schema=EXIF_SCHEMA
    )
