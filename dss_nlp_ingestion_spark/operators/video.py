"""Real video codec — AVI container with Motion-JPEG frames.

Completes the multimodal column story with an actual VIDEO path (the
plug point multimodal.py reserved for ffmpeg): an AVI is a RIFF
container (same chunk grammar the WAV parser walks,
``operators/multimodal.py:decode_wav``) whose ``movi`` list holds one
compressed image per frame — with MJPEG, each ``00dc`` chunk is a
standalone baseline JPEG, which ``operators/jpeg.py`` already
decodes. So a spec-conformant video decoder falls out of the two
codecs this repo already ships, no external dependency:

- ``encode_avi_mjpeg``: RIFF('AVI ') + LIST(hdrl){avih + strl{strh
  'vids'/'MJPG' + strf BITMAPINFOHEADER}} + LIST(movi){00dc JPEG
  frames} — headers carry real frame counts/dims/fps; the output is
  a playable MJPEG AVI.
- ``decode_avi_mjpeg``: chunk walk with word alignment, header
  validation (vids/MJPG fourccs), then per-frame JPEG decode.

Exactness inherits from the JPEG invariant: blockwise-constant
frames + the flat quant table round-trip bit-exactly, so per-frame
pixel sums sit under the DuckDB oracle gate like BMP/PNG/WAV/JPEG.
Frame decode is per-``mapInPandas``-batch work — blobs never
aggregate, never hit the driver.
"""

from __future__ import annotations


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    data = payload + (b"\x00" if len(payload) & 1 else b"")  # word align
    return fourcc + len(payload).to_bytes(4, "little") + data


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """Encode grayscale uint8 frames (all same shape) as an MJPEG
    AVI. Each frame is a REAL baseline JPEG (flat quant table —
    near-lossless, exact for blockwise-constant content)."""
    from dss_nlp_ingestion_spark.operators.jpeg import QUANT_FLAT, encode_jpeg

    h, w = frames[0].shape
    jpegs = [encode_jpeg(f, QUANT_FLAT) for f in frames]
    max_size = max(len(j) for j in jpegs)

    avih = (
        (1_000_000 // fps).to_bytes(4, "little")  # microseconds per frame
        + (max_size * fps).to_bytes(4, "little")  # max bytes per sec
        + (0).to_bytes(4, "little")
        + (0x10).to_bytes(4, "little")  # AVIF_HASINDEX off; 0x10 = no flags we need
        + len(jpegs).to_bytes(4, "little")  # total frames
        + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little")  # streams
        + (0).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + bytes(16)
    )
    strh = (
        b"vids"
        + b"MJPG"
        + bytes(4 * 3)  # flags, priority+language, initial frames
        + (1).to_bytes(4, "little")  # scale
        + fps.to_bytes(4, "little")  # rate (rate/scale = fps)
        + (0).to_bytes(4, "little")  # start
        + len(jpegs).to_bytes(4, "little")  # length in frames
        + max_size.to_bytes(4, "little")
        + (0xFFFFFFFF).to_bytes(4, "little")  # quality
        + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little") * 2
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
    )
    strf = (  # BITMAPINFOHEADER for the compressed stream
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"MJPG"
        + (w * h * 3).to_bytes(4, "little")
        + bytes(16)
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi_mjpeg(data: bytes):
    """Decode an MJPEG AVI to (width, height, fps, frames) where
    frames is a list of (h, w) uint8 arrays. REAL container parse:
    RIFF walk with word alignment, header fourcc validation
    (vids/MJPG), per-frame baseline-JPEG decode. Raises ValueError
    on other containers/codecs — never mis-decodes."""
    from dss_nlp_ingestion_spark.operators.jpeg import decode_jpeg

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    fps, validated = None, False
    frames = []

    def walk(pos: int, end: int) -> None:
        nonlocal fps, validated
        while pos + 8 <= end:
            fourcc = data[pos : pos + 4]
            ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
            payload_start = pos + 8
            if fourcc == b"LIST":
                walk(payload_start + 4, payload_start + ln)
            elif fourcc == b"strh":
                if data[payload_start : payload_start + 4] != b"vids":
                    raise ValueError("first stream is not video")
                if data[payload_start + 4 : payload_start + 8] != b"MJPG":
                    raise ValueError("only MJPG video streams supported")
                scale = int.from_bytes(
                    data[payload_start + 20 : payload_start + 24], "little"
                )
                rate = int.from_bytes(
                    data[payload_start + 24 : payload_start + 28], "little"
                )
                fps = rate // max(scale, 1)
                validated = True
            elif fourcc == b"00dc":
                frames.append(data[payload_start : payload_start + ln])
            pos = payload_start + ln + (ln & 1)

    walk(12, len(data))
    if not validated:
        raise ValueError("missing vids/MJPG stream header")
    if not frames:
        raise ValueError("no video frames in movi list")
    decoded = []
    w = h = None
    for j in frames:
        fw, fh, px = decode_jpeg(j)
        if px.ndim != 2:
            raise ValueError("expected grayscale MJPEG frames")
        w, h = fw, fh
        decoded.append(px)
    return w, h, fps, decoded
