"""Multimodal column plumbing: opaque binary payloads + typed metadata.

At 100 TB a training-data pipeline carries images/audio/video as opaque
``binary`` columns with a typed metadata struct, and runs decode /
feature-extract / frame-sample as Arrow-batched Python over
``mapInPandas``. ALL THREE modalities decode real container bytes
with dependency-free codecs: :func:`synth_wav` / :func:`parse_wav`
(RIFF/WAVE PCM16 chunk walk), :func:`synth_png` / :func:`parse_png`
(RFC 2083 PNG — CRC-validated chunks, multi-IDAT zlib inflate, all
five scanline filters) plus :func:`parse_ppm` (binary P6), and
:func:`synth_vppm` / :func:`parse_vppm` (length-prefixed multi-frame
video demux). External-codec formats (jpeg/mp3/mp4 via PIL/av) are
absent from this container; swapping them in changes a parse body,
never the Spark plan. :func:`blob_features` (byte-level statistics)
remains as the codec-free feature head.

Payload synthesis is deterministic from the documents table: the binary
column is the UTF-8 encoding of ``text`` and the metadata derives from
``doc_id``, so every downstream result is oracle-checkable.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")
VIDEO_FPS = 24
FRAME_STRIDE = 10

FEATURE_SCHEMA = (
    "doc_id LONG, media_type STRING, byte_len LONG, crc32 LONG, "
    "first_byte INT, mean_byte DOUBLE"
)
FRAME_SCHEMA = "doc_id LONG, frame_idx INT, ts_ms LONG"

_CODEC_DEPS = {}
try:  # real decoders, absent in this container — gate behind import-try
    import PIL.Image  # type: ignore  # noqa: F401

    _CODEC_DEPS["image"] = True
except ImportError:
    pass


def media_type_col(doc_id: Column | str = "doc_id") -> Column:
    """Deterministic media type: doc_id mod 3 -> image/audio/video."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]), (c % 3 + 1).cast("int"))


def duration_ms_col(doc_id: Column | str = "doc_id") -> Column:
    """Deterministic media duration: 1000 + (doc_id % 50) * 200 ms."""
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return (F.lit(1000) + (c % 50) * 200).cast("long")


def with_blob(docs: DataFrame) -> DataFrame:
    """documents -> multimodal table: payload binary + typed metadata.

    Metadata is a struct (media_type, byte_len, width, height,
    sample_rate, duration_ms) with nulls for fields that do not apply to
    the row's media type — the schema a real ingest would carry next to
    an opaque payload column. All JVM-side column work; no Python.
    """
    did = F.col("doc_id")
    mt = media_type_col(did)
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            mt.alias("media_type"),
            F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("byte_len"),
            F.when(mt == "image", (did % 640 + 64).cast("int")).alias("width"),
            F.when(mt == "image", (did % 480 + 48).cast("int")).alias("height"),
            F.when(mt == "audio", F.lit(16000)).alias("sample_rate"),
            F.when(mt != "image", duration_ms_col(did)).alias("duration_ms"),
        ).alias("meta"),
    )


def decode_media(media_type: str, payload: bytes) -> object:
    """Decode an opaque payload into pixels / samples / frames.

    All three modalities are REAL: :func:`parse_wav` decodes RIFF/WAVE
    PCM16 containers, :func:`parse_ppm` decodes binary P6 PPM images,
    and :func:`parse_vppm` demuxes the length-prefixed multi-frame VPPM
    video container — all with dependency-free parsers. External-codec
    formats (mp4/jpeg/mp3 via av/PIL) are not in this environment and
    raise honestly.
    """
    if media_type == "audio":
        return parse_wav(payload)
    if media_type == "image":
        return parse_image(payload)
    if media_type == "video":
        return parse_vppm(payload)
    raise NotImplementedError(
        f"no codec for {media_type!r} in this environment; "
        "use blob_features() as the deterministic fake decoder"
    )


# ---------------------------------------------------------------------------
# Real audio path: RIFF/WAVE PCM16 synth + parse (dependency-free)
# ---------------------------------------------------------------------------

WAV_RATE = 16000


def _wav_n_samples(doc_id: int) -> int:
    """Deterministic clip length (smallish so the SQL oracle that
    re-derives every sample stays cheap)."""
    return 160 + doc_id % 320


def synth_wav(doc_id: int) -> bytes:
    """A real, spec-conforming WAV file: 44-byte RIFF header + mono
    PCM16 sawtooth whose samples are integer-exact functions of
    (doc_id, i) — so decoded features are SQL-oracle-checkable:
    sample[i] = ((doc_id*31 + i*7) % 65536) - 32768.
    """
    n = _wav_n_samples(doc_id)
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 31 + i * 7) % 65536 - 32768).astype("<i2")
    data = samples.tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16
    )
    hdr += b"data" + struct.pack("<I", len(data))
    return hdr + data


def parse_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Decode a RIFF/WAVE PCM16 payload -> (sample_rate, samples).

    Walks the chunk list (not fixed offsets), validates magics and the
    PCM16/mono format words, and reinterprets the data chunk as
    little-endian int16 — a real container parse, not a stub.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if (fmt, channels, bits) != (1, 1, 16):
                raise ValueError(f"unsupported wav format {(fmt, channels, bits)}")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


def wav_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: doc_id -> real WAV container bytes."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda d: synth_wav(int(d))),
            }
        )


def decode_wav_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: parse each WAV container and compute
    integer-exact features from the DECODED samples (never from the
    generator's parameters): header sample rate, sample count, sum and
    max of absolute amplitude."""
    for pdf in batches:
        rates, counts, sums, maxes = [], [], [], []
        for payload in pdf["payload"]:
            rate, samples = parse_wav(payload)
            a = np.abs(samples.astype(np.int64))
            rates.append(rate)
            counts.append(len(samples))
            sums.append(int(a.sum()))
            maxes.append(int(a.max()) if len(a) else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "sample_rate": pd.Series(rates, dtype="int32"),
                "n_samples": pd.Series(counts, dtype="int32"),
                "sum_abs": pd.Series(sums, dtype="int64"),
                "max_abs": pd.Series(maxes, dtype="int32"),
            }
        )


# ---------------------------------------------------------------------------
# Real image path: binary P6 PPM synth + parse (dependency-free)
# ---------------------------------------------------------------------------


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic image size (smallish so the SQL oracle that
    re-derives every pixel stays cheap)."""
    return 4 + doc_id % 16, 3 + doc_id % 8


def synth_ppm(doc_id: int) -> bytes:
    """A real, spec-conforming binary PPM (P6) image: ASCII header
    (magic, width, height, maxval — with a comment line, which a
    correct parser must skip) + interleaved RGB bytes whose values are
    integer-exact functions of (doc_id, byte index):
    pixel_byte[i] = (doc_id * 7 + i * 13) % 256.
    """
    w, h = _ppm_dims(doc_id)
    i = np.arange(3 * w * h, dtype=np.int64)
    pixels = ((doc_id * 7 + i * 13) % 256).astype(np.uint8)
    header = f"P6\n# synthetic {doc_id}\n{w} {h}\n255\n".encode("ascii")
    return header + pixels.tobytes()


def parse_ppm(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode a binary P6 PPM payload -> (width, height, HxWx3 uint8).

    A real header parse: validates the magic, skips ``#`` comment lines,
    reads width/height/maxval as whitespace-separated ASCII tokens, then
    reinterprets exactly 3*w*h raster bytes. Raises on truncated or
    malformed containers instead of guessing.
    """
    if payload[:2] != b"P6":
        raise ValueError("not a binary P6 PPM payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment runs to end of line
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(int(payload[start:pos]))
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pos += 1  # exactly one whitespace byte separates header from raster
    raster = payload[pos : pos + 3 * w * h]
    if len(raster) != 3 * w * h:
        raise ValueError("truncated PPM raster")
    return w, h, np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def decode_ppm_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: parse each PPM container and compute
    integer-exact features from the DECODED raster (never from the
    generator's parameters): header dimensions, per-channel byte sums,
    and global max byte."""
    for pdf in batches:
        ws, hs, rs, gs, bs, mx = [], [], [], [], [], []
        for payload in pdf["payload"]:
            w, h, px = parse_image(payload)
            s = px.astype(np.int64).sum(axis=(0, 1))
            ws.append(w)
            hs.append(h)
            rs.append(int(s[0]))
            gs.append(int(s[1]))
            bs.append(int(s[2]))
            mx.append(int(px.max()) if px.size else 0)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "sum_r": pd.Series(rs, dtype="int64"),
                "sum_g": pd.Series(gs, dtype="int64"),
                "sum_b": pd.Series(bs, dtype="int64"),
                "max_byte": pd.Series(mx, dtype="int32"),
            }
        )


def blob_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas feature extractor over (doc_id, payload, meta).

    Deterministic byte-level statistics standing in for a model feature
    head: crc32 checksum, first byte, mean byte value. Arrow hands whole
    column batches; everything vectorizes inside the batch except the
    per-blob crc (C-speed via zlib).
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["meta"].map(lambda m: m["media_type"]),
                "byte_len": payloads.map(len).astype("int64"),
                "crc32": payloads.map(lambda b: zlib.crc32(b)).astype("int64"),
                "first_byte": payloads.map(lambda b: b[0] if len(b) else -1).astype(
                    "int32"
                ),
                "mean_byte": payloads.map(
                    lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                ),
            }
        )


def blob_features_checked(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """:func:`blob_features` plus a pass-through of the JVM-computed
    ``jvm_crc32`` input column, so the caller can compare the Python
    crc against Spark's built-in ``F.crc32`` in-plan (the bound-
    contract oracle for ``multimodal_features``: a broken Python-side
    checksum flips the boolean and fails the driver hash)."""
    for pdf in batches:
        out = next(blob_features(iter([pdf])))
        out["jvm_crc32"] = pdf["jvm_crc32"].astype("int64")
        yield out


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas frame sampler for video rows: every FRAME_STRIDE-th
    frame index with its integer-exact timestamp offset.

    Real decode would seek into the container per sampled index; the
    index/timestamp plumbing here is exactly what that path needs, and
    is fully SQL-oracle-checkable (n_frames = duration_ms*fps // 1000,
    ts_ms = frame_idx*1000 // fps).
    """
    for pdf in batches:
        out_doc, out_idx, out_ts = [], [], []
        for doc_id, dur in zip(pdf["doc_id"], pdf["duration_ms"]):
            n_frames = int(dur) * VIDEO_FPS // 1000
            for idx in range(0, n_frames, FRAME_STRIDE):
                out_doc.append(doc_id)
                out_idx.append(idx)
                out_ts.append(idx * 1000 // VIDEO_FPS)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "frame_idx": pd.Series(out_idx, dtype="int32"),
                "ts_ms": pd.Series(out_ts, dtype="int64"),
            }
        )


RESIZE_T = 4  # nearest-neighbor resize target (RESIZE_T x RESIZE_T)


def resize_ppm_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas resize stage: parse each PPM container, nearest-
    neighbor downsample the DECODED raster to RESIZE_T x RESIZE_T
    (src = (out_idx * src_dim) // out_dim -- the integer-exact NN map),
    and compute per-channel byte sums of the resized image. A wrong
    index map, channel interleave, or raster offset changes the sums.
    """
    t = np.arange(RESIZE_T, dtype=np.int64)
    for pdf in batches:
        rs, gs, bs, mx = [], [], [], []
        for payload in pdf["payload"]:
            w, h, px = parse_image(payload)
            small = px[np.ix_((t * h) // RESIZE_T, (t * w) // RESIZE_T)]
            s = small.astype(np.int64).sum(axis=(0, 1))
            rs.append(int(s[0]))
            gs.append(int(s[1]))
            bs.append(int(s[2]))
            mx.append(int(small.max()))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "out_w": pd.Series([RESIZE_T] * len(rs), dtype="int32"),
                "out_h": pd.Series([RESIZE_T] * len(rs), dtype="int32"),
                "rsum_r": pd.Series(rs, dtype="int64"),
                "rsum_g": pd.Series(gs, dtype="int64"),
                "rsum_b": pd.Series(bs, dtype="int64"),
                "max_byte": pd.Series(mx, dtype="int32"),
            }
        )


# ---------------------------------------------------------------------------
# Real image path #2: PNG (RFC 2083) synth + parse on zlib (dependency-free)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One PNG chunk: 4-byte BE length, type, data, CRC32(type+data)."""
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): pick the neighbor (left,
    up, up-left) closest to the linear estimate a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synth_png(doc_id: int) -> bytes:
    """A real, spec-conforming PNG: 8-byte signature, IHDR (8-bit
    truecolor, no interlace), a tEXt ancillary chunk a correct parser
    must skip, the zlib-compressed filtered scanline stream split
    across TWO IDAT chunks (multi-IDAT is legal and common), and IEND.

    Scanline y uses filter type y % 5, so every synthesized image with
    h >= 5 exercises all five PNG filters (None/Sub/Up/Average/Paeth)
    — a decoder that fumbles any unfilter path changes the pixels and
    fails the SQL oracle. Pixel bytes are the same integer-exact
    function as the PPM path, pixel_byte[i] = (doc_id*7 + i*13) % 256,
    so the decode oracles are format-independent.
    """
    w, h = _ppm_dims(doc_id)
    i = np.arange(3 * w * h, dtype=np.int64)
    raster = ((doc_id * 7 + i * 13) % 256).astype(np.uint8).reshape(h, 3 * w)
    bpp = 3
    lines = bytearray()
    prior = np.zeros(3 * w, dtype=np.int64)
    for y in range(h):
        raw = raster[y].astype(np.int64)
        ftype = y % 5
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
        upleft = np.concatenate(
            [np.zeros(bpp, dtype=np.int64), prior[:-bpp]]
        )
        if ftype == 0:
            filt = raw
        elif ftype == 1:
            filt = raw - left
        elif ftype == 2:
            filt = raw - prior
        elif ftype == 3:
            filt = raw - (left + prior) // 2
        else:
            pred = np.array(
                [
                    _paeth(int(a), int(b), int(c))
                    for a, b, c in zip(left, prior, upleft)
                ],
                dtype=np.int64,
            )
            filt = raw - pred
        lines.append(ftype)
        lines.extend((filt % 256).astype(np.uint8).tobytes())
        prior = raw
    compressed = zlib.compress(bytes(lines), 6)
    mid = max(1, len(compressed) // 2)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00synthetic " + str(doc_id).encode())
        + _png_chunk(b"IDAT", compressed[:mid])
        + _png_chunk(b"IDAT", compressed[mid:])
        + _png_chunk(b"IEND", b"")
    )


def parse_png(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode an 8-bit truecolor PNG -> (width, height, HxWx3 uint8).

    A real container parse: validates the signature, walks the chunk
    list verifying each chunk's CRC32, requires IHDR first, concatenates
    every IDAT, skips ancillary chunks, stops at IEND rejecting
    trailing garbage, inflates the scanline stream, and reverses all
    five PNG filter types (None/Sub/Up/Average/Paeth) per RFC 2083 §6.
    Raises on truncation, bad CRC, or unsupported color modes instead
    of guessing.
    """
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w = 8, None
    h = None
    idat = bytearray()
    ended = False
    while pos < len(payload):
        if ended:
            raise ValueError("trailing bytes after IEND")
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (clen,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen or pos + 12 + clen > len(payload):
            raise ValueError("truncated PNG chunk body")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + clen : pos + 12 + clen]
        )
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            w, h, depth, ctype_n, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if (depth, ctype_n, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG mode "
                    f"{(depth, ctype_n, comp, filt, interlace)}"
                )
        elif ctype == b"IDAT":
            if w is None:
                raise ValueError("IDAT before IHDR")
            idat.extend(body)
        elif ctype == b"IEND":
            ended = True
        pos += 12 + clen
    if w is None or not ended:
        raise ValueError("missing IHDR/IEND chunk")
    lines = zlib.decompress(bytes(idat))
    stride = 3 * w
    if len(lines) != h * (1 + stride):
        raise ValueError("PNG scanline stream length mismatch")
    bpp = 3
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ftype = lines[y * (1 + stride)]
        filt = np.frombuffer(
            lines[y * (1 + stride) + 1 : (y + 1) * (1 + stride)],
            dtype=np.uint8,
        ).astype(np.int64)
        if ftype == 0:
            raw = filt
        elif ftype == 2:
            raw = (filt + prior) % 256
        elif ftype in (1, 3, 4):
            # left-dependent filters are sequential along the row
            raw = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = raw[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + int(prior[x])) // 2
                else:
                    upleft = int(prior[x - bpp]) if x >= bpp else 0
                    pred = _paeth(left, int(prior[x]), upleft)
                raw[x] = (filt[x] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = raw.astype(np.uint8)
        prior = raw
    return w, h, out.reshape(h, w, 3)


def parse_image(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Decode an image payload by sniffing the container magic: PNG
    (signature) or binary P6 PPM. The two codecs produce identical
    (w, h, HxWx3 uint8) outputs, so downstream feature stages are
    format-agnostic."""
    if payload[:8] == _PNG_SIG:
        return parse_png(payload)
    return parse_ppm(payload)


def png_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: doc_id -> real PNG container bytes."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda d: synth_png(int(d))),
            }
        )


# ---------------------------------------------------------------------------
# Real video path: VPPM (length-prefixed P6 frame container) synth + parse
# ---------------------------------------------------------------------------

_VPPM_MAGIC = b"VPPM"


def _video_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 6


def synth_vppm(doc_id: int) -> bytes:
    """A real multi-frame video container: ``VPPM`` magic, a 2-byte
    big-endian frame count, then each frame as a 4-byte big-endian
    length prefix + a complete, spec-conforming binary P6 PPM image
    (all frames share the doc's dimensions). Frame f's pixel bytes are
    integer-exact: pixel_byte[i] = (doc_id*7 + f*11 + i*13) % 256 — so
    a SQL oracle can re-derive every byte of every frame.
    """
    w, h = _ppm_dims(doc_id)
    n_frames = _video_n_frames(doc_id)
    out = [_VPPM_MAGIC, n_frames.to_bytes(2, "big")]
    i = np.arange(3 * w * h, dtype=np.int64)
    header = f"P6\n# frame of {doc_id}\n{w} {h}\n255\n".encode("ascii")
    for f in range(n_frames):
        pixels = ((doc_id * 7 + f * 11 + i * 13) % 256).astype(np.uint8)
        frame = header + pixels.tobytes()
        out.append(len(frame).to_bytes(4, "big"))
        out.append(frame)
    return b"".join(out)


def parse_vppm(payload: bytes) -> list[tuple[int, int, "np.ndarray"]]:
    """Decode a VPPM container -> list of (width, height, HxWx3 uint8)
    frames. A real demux: validates the magic, walks the length-prefixed
    frame records, and hands each frame blob to the P6 parser
    (:func:`parse_ppm`). Raises on truncation or trailing garbage."""
    if payload[:4] != _VPPM_MAGIC:
        raise ValueError("not a VPPM container")
    n_frames = int.from_bytes(payload[4:6], "big")
    pos, frames = 6, []
    for _ in range(n_frames):
        if pos + 4 > len(payload):
            raise ValueError("truncated VPPM frame table")
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        pos += 4
        blob = payload[pos : pos + ln]
        if len(blob) != ln:
            raise ValueError("truncated VPPM frame")
        frames.append(parse_ppm(blob))
        pos += ln
    if pos != len(payload):
        raise ValueError("trailing bytes after final VPPM frame")
    return frames


def vppm_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas ingest stage: doc_id -> real VPPM container bytes."""
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "payload": pdf["doc_id"].map(lambda d: synth_vppm(int(d))),
            }
        )


def decode_vppm_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas decode stage: demux + decode every frame and compute
    integer-exact features from the DECODED rasters (never from the
    generator's parameters): frame count, dimensions, total byte sum
    across all frames, the first frame's byte sum, and the global max
    byte."""
    for pdf in batches:
        nf, ws, hs, tot, f0, mx = [], [], [], [], [], []
        for payload in pdf["payload"]:
            frames = parse_vppm(payload)
            sums = [int(px.astype(np.int64).sum()) for _w, _h, px in frames]
            w, h, _ = frames[0]
            nf.append(len(frames))
            ws.append(w)
            hs.append(h)
            tot.append(sum(sums))
            f0.append(sums[0])
            mx.append(max(int(px.max()) for _w, _h, px in frames))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": pd.Series(nf, dtype="int32"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "total_sum": pd.Series(tot, dtype="int64"),
                "frame0_sum": pd.Series(f0, dtype="int64"),
                "max_byte": pd.Series(mx, dtype="int32"),
            }
        )


# ---------------------------------------------------------------------------
# Voice-activity segmentation (round 10)
# ---------------------------------------------------------------------------

VAD_FRAME = 80  # samples per analysis frame (5 ms @ 16 kHz)
VAD_THRESHOLD = 16384 * VAD_FRAME  # mean-|amp| energy gate per full frame
VAD_SCHEMA = (
    "doc_id LONG, seg_idx INT, start_frame INT, end_frame INT, "
    "n_frames INT, is_voiced BOOLEAN, energy LONG"
)


def vad_segments(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas VAD stage: parse each WAV, frame the DECODED samples
    ({frame} samples per frame, last frame partial), gate each frame on
    summed |amplitude| >= threshold, and collapse consecutive
    same-state frames into segments (gaps-and-islands on the voiced
    flag) -- the silence-split preprocessing an ASR corpus pipeline
    runs before chunking audio for training."""
    for pdf in batches:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "seg_idx", "start_frame", "end_frame",
                "n_frames", "is_voiced", "energy",
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            _, samples = parse_wav(payload)
            a = np.abs(samples.astype(np.int64))
            n_frames = (len(a) + VAD_FRAME - 1) // VAD_FRAME
            if n_frames == 0:
                continue
            pad = n_frames * VAD_FRAME - len(a)
            padded = np.concatenate([a, np.zeros(pad, dtype=np.int64)])
            energy = padded.reshape(n_frames, VAD_FRAME).sum(axis=1)
            voiced = energy >= VAD_THRESHOLD
            change = np.flatnonzero(np.diff(voiced)) + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [n_frames]])
            for si, (s, e) in enumerate(zip(starts, ends)):
                out["doc_id"].append(int(doc_id))
                out["seg_idx"].append(si)
                out["start_frame"].append(int(s))
                out["end_frame"].append(int(e))
                out["n_frames"].append(int(e - s))
                out["is_voiced"].append(bool(voiced[s]))
                out["energy"].append(int(energy[s:e].sum()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "seg_idx": pd.Series(out["seg_idx"], dtype="int32"),
                "start_frame": pd.Series(out["start_frame"], dtype="int32"),
                "end_frame": pd.Series(out["end_frame"], dtype="int32"),
                "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                "is_voiced": pd.Series(out["is_voiced"], dtype="bool"),
                "energy": pd.Series(out["energy"], dtype="int64"),
            }
        )


vad_segments.__doc__ = vad_segments.__doc__.format(frame=VAD_FRAME)
