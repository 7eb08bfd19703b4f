"""EXIF GPS extraction from JPEG/TIFF payloads — pure struct/numpy.

The north star extracts geometries from interleaved text+media document
spans; geotagged media is the media half of that: a JPEG APP1 segment (or
a TIFF IFD directly) carries an EXIF block whose GPS sub-IFD stores
latitude/longitude as degree/minute/second RATIONALs.  This module reads
and writes that block so the engine can lift real coordinates out of
binary media columns and hand them to the spatial operators
(reference parity: GeoWave ingests geotagged media through its GeoTools/
format plugins, e.g. ``extensions/formats``; here the EXIF walk is ~100
lines of struct, no library).

Scope: baseline EXIF (II/MM byte order, IFD0 -> GPS IFD pointer tag
0x8825, tags 1-4: GPSLatitudeRef/GPSLatitude/GPSLongitudeRef/
GPSLongitude as 3 RATIONALs each).  Writers emit a canonical little-
endian block for fixtures/export.  Corrupt blocks raise ValueError or
return None (no GPS), never a bare struct error.
"""

from __future__ import annotations

import struct

_GPS_IFD_TAG = 0x8825
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _ifd_entries(buf: bytes, order: str, ifd_off: int) -> dict[int, tuple[int, int, int]]:
    """tag -> (type, count, value_or_offset_position) for one IFD."""
    (n,) = struct.unpack_from(order + "H", buf, ifd_off)
    out = {}
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag, ttype, count = struct.unpack_from(order + "HHI", buf, off)
        if ttype not in _TYPE_SIZE or count == 0:
            continue  # unknown field type / empty entry: skip per spec
        size = _TYPE_SIZE[ttype] * count
        if size > len(buf):
            raise ValueError(f"EXIF entry {tag} overruns the block")
        vpos = off + 8
        if size > 4:
            (vpos,) = struct.unpack_from(order + "I", buf, off + 8)
        out[tag] = (ttype, count, vpos)
    return out


def _rationals(buf: bytes, order: str, vpos: int, count: int) -> list[float]:
    vals = []
    for i in range(count):
        num, den = struct.unpack_from(order + "II", buf, vpos + 8 * i)
        vals.append(num / den if den else 0.0)
    return vals


def _gps_from_tiff_block(buf: bytes) -> tuple[float, float] | None:
    """(lon, lat) from a TIFF-structured block (EXIF body or whole TIFF)."""
    if buf[:4] == b"II*\x00":
        order = "<"
    elif buf[:4] == b"MM\x00*":
        order = ">"
    else:
        raise ValueError("not a TIFF-structured EXIF block")
    (ifd_off,) = struct.unpack_from(order + "I", buf, 4)
    ifd0 = _ifd_entries(buf, order, ifd_off)
    if _GPS_IFD_TAG not in ifd0:
        return None
    ttype, _count, vpos = ifd0[_GPS_IFD_TAG]
    (gps_off,) = struct.unpack_from(order + "I", buf, vpos)
    gps = _ifd_entries(buf, order, gps_off)
    if not {1, 2, 3, 4} <= set(gps):
        return None
    lat_ref = buf[gps[1][2] : gps[1][2] + 1]
    lon_ref = buf[gps[3][2] : gps[3][2] + 1]
    if gps[2][0] != 5 or gps[2][1] != 3 or gps[4][0] != 5 or gps[4][1] != 3:
        raise ValueError("EXIF GPS coordinates must be 3 RATIONALs")
    d, m, s = _rationals(buf, order, gps[2][2], 3)
    lat = d + m / 60.0 + s / 3600.0
    d, m, s = _rationals(buf, order, gps[4][2], 3)
    lon = d + m / 60.0 + s / 3600.0
    if lat_ref == b"S":
        lat = -lat
    if lon_ref == b"W":
        lon = -lon
    return lon, lat


def gps_from_media(buf: bytes) -> tuple[float, float] | None:
    """Extract (lon, lat) from a media payload, or None when untagged.

    JPEG: walks markers for an APP1 segment starting ``Exif\\0\\0``;
    TIFF: reads IFD0 directly.  Other formats (which cannot carry EXIF)
    return None.  Structurally corrupt EXIF raises ValueError.
    """
    try:
        if buf[:2] == b"\xff\xd8":  # JPEG: find APP1/Exif
            pos, n = 2, len(buf)
            while pos + 4 <= n and buf[pos] == 0xFF:
                marker = buf[pos + 1]
                if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                    pos += 2
                    continue
                if marker == 0xDA:
                    break  # entropy data: no EXIF after this
                (seglen,) = struct.unpack_from(">H", buf, pos + 2)
                body = buf[pos + 4 : pos + 2 + seglen]
                if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
                    return _gps_from_tiff_block(body[6:])
                pos += 2 + seglen
            return None
        if buf[:4] in (b"II*\x00", b"MM\x00*"):
            return _gps_from_tiff_block(buf)
        return None
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt EXIF block: {e}") from None


def _deg_to_rationals(value: float) -> list[tuple[int, int]]:
    """abs degrees -> ((d,1),(m,1),(s*10^6,10^6)) — second-precision 1e-6."""
    v = abs(value)
    d = int(v)
    m = int((v - d) * 60)
    s = round(((v - d) * 60 - m) * 60 * 1_000_000)
    return [(d, 1), (m, 1), (s, 1_000_000)]


def gps_ifd_bytes(lat: float, lon: float, base_off: int) -> bytes:
    """A GPS IFD (4 entries) + its rational payloads, little-endian, with
    value offsets computed as if the IFD starts at absolute ``base_off`` —
    embeddable in any TIFF-structured file."""
    rat_off = base_off + 2 + 4 * 12 + 4
    out = bytearray()
    lat_ref = b"S\x00\x00\x00" if lat < 0 else b"N\x00\x00\x00"
    lon_ref = b"W\x00\x00\x00" if lon < 0 else b"E\x00\x00\x00"
    out += struct.pack("<H", 4)
    out += struct.pack("<HHI", 1, 2, 2) + lat_ref
    out += struct.pack("<HHII", 2, 5, 3, rat_off)
    out += struct.pack("<HHI", 3, 2, 2) + lon_ref
    out += struct.pack("<HHII", 4, 5, 3, rat_off + 24)
    out += struct.pack("<I", 0)
    for num, den in _deg_to_rationals(lat) + _deg_to_rationals(lon):
        out += struct.pack("<II", num, den)
    return bytes(out)


def exif_gps_block(lat: float, lon: float) -> bytes:
    """Canonical little-endian TIFF block holding only a GPS IFD."""
    # IFD0: one entry (GPS pointer); GPS IFD follows
    ifd0_off = 8
    gps_off = ifd0_off + 2 + 12 + 4
    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd0_off))
    out += struct.pack("<H", 1)
    out += struct.pack("<HHII", _GPS_IFD_TAG, 4, 1, gps_off)
    out += struct.pack("<I", 0)
    out += gps_ifd_bytes(lat, lon, gps_off)
    return bytes(out)


def jpeg_app1_exif(lat: float, lon: float) -> bytes:
    """A full APP1 marker segment embedding the GPS EXIF block."""
    body = b"Exif\x00\x00" + exif_gps_block(lat, lon)
    return bytes([0xFF, 0xE1]) + struct.pack(">H", len(body) + 2) + body
