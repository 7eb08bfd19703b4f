"""Dependency-free Y4M (YUV4MPEG2) video codec in pure numpy.

Y4M is the uncompressed interchange format the mjpegtools/ffmpeg ecosystem
uses — an ASCII stream header, then per-frame ``FRAME`` markers followed by
raw planes — so, like BMP/PPM/WAV, it needs no media library.

Colorspaces:
- **Cmono**: one luma plane per frame.  8-bit round-trips are bit-exact,
  which makes it the testing contract.
- **C444**: full-resolution YCbCr planes; decode converts to RGB via BT.601,
  encode does the forward conversion.  Integer rounding makes round-trips
  near-exact (within +/-2 per channel), never exact — inherent to YCbCr,
  not a codec defect.
- **C420 / C422** (420 is the Y4M default and what ffmpeg emits): chroma
  subsampled 2x2 / 2x1.  Encode box-averages the chroma planes; decode
  nearest-upsamples.  The C420jpeg/C420mpeg2/C420paldv tag suffixes only
  differ in chroma *siting* (sub-pixel placement); nearest reconstruction
  treats them identically, which is within half a chroma sample of any
  siting convention.

Compressed video (H.264/VP9/...) genuinely needs a library; unrecognized
magic raises in :func:`decode_video_payload` with the libav integration
point documented.
"""

from __future__ import annotations

import numpy as np

_MAGIC = b"YUV4MPEG2 "


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """BT.601 full-swing RGB -> YCbCr (uint8 in, uint8 out)."""
    from geowave_spark.functions.colorspace import rgb_to_ycbcr_f

    return np.clip(np.rint(rgb_to_ycbcr_f(rgb)), 0, 255).astype(np.uint8)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    from geowave_spark.functions.colorspace import ycbcr_to_rgb_u8

    return ycbcr_to_rgb_u8(ycc)


def y4m_bytes(
    frames: np.ndarray, fps: int = 25, colorspace: str = "mono"
) -> bytes:
    """Encode frames as a YUV4MPEG2 stream.

    ``colorspace="mono"`` takes (n, h, w) uint8 luma frames (bit-exact);
    ``colorspace="444"`` takes (n, h, w, 3) uint8 RGB frames and converts to
    BT.601 YCbCr planes (lossy by integer rounding); ``colorspace="420"`` /
    ``"422"`` additionally box-average the chroma planes 2x2 / 2x1 (even
    dimensions required, as the format itself demands).
    """
    frames = np.asarray(frames, dtype=np.uint8)
    if colorspace == "mono":
        if frames.ndim != 3:
            raise ValueError("mono expects (n, h, w) luma frames")
        n, h, w = frames.shape
        tag = b"Cmono"
        planes = [frames[i].tobytes() for i in range(n)]
    elif colorspace in ("444", "420", "422"):
        if frames.ndim != 4 or frames.shape[3] != 3:
            raise ValueError(f"{colorspace} expects (n, h, w, 3) RGB frames")
        n, h, w = frames.shape[:3]
        tag = b"C" + colorspace.encode()
        ycc = _rgb_to_ycbcr(frames)
        if colorspace == "444":
            planes = [
                b"".join(np.ascontiguousarray(ycc[i, :, :, c]).tobytes() for c in range(3))
                for i in range(n)
            ]
        else:
            sy, sx = (2, 2) if colorspace == "420" else (1, 2)
            if h % sy or w % sx:
                raise ValueError(f"C{colorspace} requires dimensions divisible by {sy}x{sx}")
            planes = []
            for i in range(n):
                y = np.ascontiguousarray(ycc[i, :, :, 0]).tobytes()
                sub = []
                for c in (1, 2):
                    p = ycc[i, :, :, c].astype(np.float64)
                    box = p.reshape(h // sy, sy, w // sx, sx).mean(axis=(1, 3))
                    sub.append(np.clip(np.rint(box), 0, 255).astype(np.uint8).tobytes())
                planes.append(y + sub[0] + sub[1])
    else:
        raise ValueError(f"unknown colorspace {colorspace!r}")
    hdr = _MAGIC + f"W{w} H{h} F{fps}:1 Ip A1:1 ".encode() + tag + b"\n"
    return hdr + b"".join(b"FRAME\n" + p for p in planes)


def y4m_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode a YUV4MPEG2 stream into ((n, h, w, 3) uint8 RGB frames, fps).

    Mono luma is replicated across RGB channels; C444/C420/C422 convert via
    BT.601 (subsampled chroma nearest-upsampled first — siting-suffix tags
    like C420jpeg/C420mpeg2 decode identically, see module docstring).
    Per-frame parameter overrides raise.
    """
    if buf[:10] != _MAGIC:
        raise ValueError("not a YUV4MPEG2 payload")
    nl = buf.index(b"\n")
    w = h = fps = -1
    ctag = "420"  # the Y4M default when no C tag is present
    for tok in buf[10:nl].split():
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F":
            # rational F<num>:<den> (e.g. NTSC F30000:1001 ~ 29.97)
            num, _, den = t[1:].partition(":")
            fps = max(1, round(int(num) / max(1, int(den or "1"))))
        elif t[0] == "C":
            ctag = t[1:]
    if w <= 0 or h <= 0:
        raise ValueError("Y4M header missing W/H")
    if ctag.startswith("420"):  # C420 / C420jpeg / C420mpeg2 / C420paldv
        kind, sy, sx = "sub", 2, 2
    elif ctag.startswith("422"):
        kind, sy, sx = "sub", 1, 2
    elif ctag in ("mono", "444"):
        kind, sy, sx = ctag, 1, 1
    else:
        raise ValueError(f"unsupported Y4M colorspace C{ctag}")
    if kind == "sub" and (h % sy or w % sx):
        raise ValueError(f"C{ctag} stream with dimensions not divisible by {sy}x{sx}")
    if kind == "mono":
        frame_px = h * w
    elif kind == "444":
        frame_px = 3 * h * w
    else:
        frame_px = h * w + 2 * (h // sy) * (w // sx)
    pos, frames = nl + 1, []
    while pos < len(buf):
        fnl = buf.index(b"\n", pos)
        if buf[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at byte {pos}")
        if fnl > pos + 5:
            raise ValueError("per-frame parameters not supported")
        pos = fnl + 1
        if pos + frame_px > len(buf):
            raise ValueError("truncated Y4M frame")
        plane = np.frombuffer(buf, dtype=np.uint8, count=frame_px, offset=pos)
        if kind == "mono":
            frames.append(np.repeat(plane.reshape(h, w, 1), 3, axis=2))
        elif kind == "444":
            frames.append(_ycbcr_to_rgb(plane.reshape(3, h, w).transpose(1, 2, 0)))
        else:
            ch, cw = h // sy, w // sx
            y = plane[: h * w].reshape(h, w)
            cb = plane[h * w : h * w + ch * cw].reshape(ch, cw)
            cr = plane[h * w + ch * cw :].reshape(ch, cw)
            # nearest upsample back to full resolution
            cb = np.repeat(np.repeat(cb, sy, axis=0), sx, axis=1)
            cr = np.repeat(np.repeat(cr, sy, axis=0), sx, axis=1)
            frames.append(_ycbcr_to_rgb(np.stack([y, cb, cr], axis=-1)))
        pos += frame_px
    if not frames:
        raise ValueError("Y4M stream has no frames")
    return np.ascontiguousarray(np.stack(frames)), fps


def decode_video_payload(buf: bytes) -> tuple[np.ndarray, int]:
    """Magic-byte dispatch for video payloads -> ((n, h, w, 3) RGB, fps).

    Y4M decodes here; MJPEG-in-AVI dispatches to
    :mod:`geowave_spark.functions.avicodec` (JPEG frames through the real
    JPEG codec, incl. the omitted-DHT convention).  The integration point
    for remaining compressed video (H.264/VP9 via libav/PyAV): add a branch
    on the container magic returning the same contract and the downstream
    mapInPandas operators work unchanged.
    """
    if buf[:10] == _MAGIC:
        return y4m_decode(buf)
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        from geowave_spark.functions.avicodec import avi_mjpeg_decode

        return avi_mjpeg_decode(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        from geowave_spark.functions.gifcodec import gif_frames

        return gif_frames(buf)
    raise ValueError(f"unrecognized video payload (magic {buf[:4]!r})")
