"""Multimodal column plumbing (training-data pipeline op).

Images/audio/video ride through the engine as opaque ``binary`` columns
plus typed metadata. The Spark-side machinery — schema, Arrow batch
shape, partition sizing, UDF signatures — is real and tested.
Dimension extraction is REAL header parsing for PNG/GIF/JPEG (pure
Python; no media libraries required for header-level metadata). Pixel
decode, resize and embedding need codec or model libraries and are not
provided; frame sampling is a plan over stub-derived frame counts.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

META_SCHEMA = "id long, n_bytes int, kind string, width int, height int"

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"RIFF", "riff"),
    (b"\x00\x00\x00", "mp4ish"),
]


def _sniff(buf: bytes) -> str:
    for magic, kind in _MAGIC:
        if buf[: len(magic)] == magic:
            return kind
    return "unknown"


def _png_dims(buf: bytes) -> tuple[int, int] | None:
    # IHDR is always the first chunk: width/height at bytes 16..24 (BE)
    if len(buf) >= 24 and buf[12:16] == b"IHDR":
        return (
            int.from_bytes(buf[16:20], "big"),
            int.from_bytes(buf[20:24], "big"),
        )
    return None


def _gif_dims(buf: bytes) -> tuple[int, int] | None:
    # logical screen descriptor: width/height at bytes 6..10 (LE)
    if len(buf) >= 10:
        return (
            int.from_bytes(buf[6:8], "little"),
            int.from_bytes(buf[8:10], "little"),
        )
    return None


def _jpeg_dims(buf: bytes) -> tuple[int, int] | None:
    # walk the marker segments to the first SOFn frame header
    i, n = 2, len(buf)
    while i + 9 < n:
        if buf[i] != 0xFF:
            i += 1
            continue
        marker = buf[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = int.from_bytes(buf[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 <= n:
                h = int.from_bytes(buf[i + 5:i + 7], "big")
                w = int.from_bytes(buf[i + 7:i + 9], "big")
                return (w, h)
            return None
        i += 2 + seg_len
    return None


def _decode_dims(buf: bytes, kind: str) -> tuple[int, int]:
    """Header-level decode — REAL for PNG/GIF/JPEG (pure-Python header
    parsing, no media libraries needed for dimensions); other kinds get
    a deterministic content-derived placeholder (full pixel decode would
    need codec libraries this container does not ship — that, and only
    that, is the stubbed part)."""
    if not buf:
        return (0, 0)
    parsed = None
    if kind == "png":
        parsed = _png_dims(buf)
    elif kind == "gif":
        parsed = _gif_dims(buf)
    elif kind == "jpeg":
        parsed = _jpeg_dims(buf)
    if parsed is not None:
        return parsed
    return (1 + buf[0] % 64, 1 + buf[-1] % 64)


def extract_media_meta(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """mapInPandas metadata extraction over a binary column: byte length,
    magic-byte sniff, (stub-)decoded dimensions. One Arrow batch per ~10k
    rows; binary stays zero-copy until the Python boundary."""
    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nb, kinds, ws, hs = [], [], [], [], []
            for i, buf in zip(pdf[id_col].values, pdf[blob_col].values):
                buf = bytes(buf) if buf is not None else b""
                kind = _sniff(buf)
                w, h = _decode_dims(buf, kind)
                ids.append(i)
                nb.append(len(buf))
                kinds.append(kind)
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {"id": ids, "n_bytes": nb, "kind": kinds, "width": ws, "height": hs}
            )

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(fn, META_SCHEMA)


def frame_sample_plan(df: DataFrame, blob_col: str, id_col: str, every_n: int = 10) -> DataFrame:
    """Video frame-sampling PLAN: emits (id, frame_no) rows for frames a
    decoder would extract — the partition-explosion shape of the real op
    (each output frame becomes a row; downstream ops see uniform rows).
    Frame count is stub-derived (bytes // 1000 capped at 100)."""
    n_frames = F.least(F.floor(F.length(F.col(blob_col)) / 1000), F.lit(100)).cast("int")
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_no"),
    )


# ------------------------------------------------------ audio / video


def _wav_meta(buf: bytes) -> dict | None:
    """RIFF/WAVE header walk: fmt chunk (channels, sample rate, bits)
    + data chunk size -> duration. Pure header parsing, no codecs."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    i, fmt, data_size = 12, None, None
    while i + 8 <= len(buf):
        cid = buf[i:i + 4]
        sz = int.from_bytes(buf[i + 4:i + 8], "little")
        if cid == b"fmt " and i + 24 <= len(buf):
            fmt = (
                int.from_bytes(buf[i + 10:i + 12], "little"),  # channels
                int.from_bytes(buf[i + 12:i + 16], "little"),  # sample rate
                int.from_bytes(buf[i + 22:i + 24], "little"),  # bits/sample
            )
        elif cid == b"data":
            data_size = sz
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None:
        return None
    ch, sr, bits = fmt
    dur = None
    if data_size and sr and ch and bits:
        dur = int(data_size * 8000 // (sr * ch * bits))
    return {
        "container": "wav", "brand": None, "channels": ch,
        "sample_rate": sr, "bits": bits, "duration_ms": dur,
    }


def _mp4_meta(buf: bytes) -> dict | None:
    """ISO BMFF (MP4/MOV) box walk: ftyp major brand + moov/mvhd
    timescale+duration. Handles mvhd version 0 and 1."""
    if len(buf) < 12 or buf[4:8] != b"ftyp":
        return None
    brand = buf[8:12].decode("ascii", "replace").strip()

    def boxes(lo: int, hi: int):
        i = lo
        while i + 8 <= hi:
            sz = int.from_bytes(buf[i:i + 4], "big")
            typ = buf[i + 4:i + 8]
            if sz < 8:
                return
            yield typ, i + 8, min(i + sz, hi)
            i += sz

    dur_ms = None
    for typ, lo, hi in boxes(0, len(buf)):
        if typ != b"moov":
            continue
        for t2, l2, h2 in boxes(lo, hi):
            if t2 != b"mvhd":
                continue
            ver = buf[l2] if l2 < h2 else None
            if ver == 0 and l2 + 20 <= h2:
                ts = int.from_bytes(buf[l2 + 12:l2 + 16], "big")
                dur = int.from_bytes(buf[l2 + 16:l2 + 20], "big")
            elif ver == 1 and l2 + 32 <= h2:
                ts = int.from_bytes(buf[l2 + 20:l2 + 24], "big")
                dur = int.from_bytes(buf[l2 + 24:l2 + 32], "big")
            else:
                continue
            if ts:
                dur_ms = int(dur * 1000 // ts)
    return {
        "container": "mp4", "brand": brand, "channels": None,
        "sample_rate": None, "bits": None, "duration_ms": dur_ms,
    }


_AV_SCHEMA = (
    "id long, n_bytes long, container string, brand string, "
    "channels int, sample_rate int, bits int, duration_ms long"
)


def extract_av_meta(df: DataFrame, blob_col: str, id_col: str) -> DataFrame:
    """Audio/video metadata over a binary column — REAL header parsing
    for RIFF/WAVE (channels, sample rate, bit depth, duration) and ISO
    BMFF MP4/MOV (major brand, mvhd duration); container "unknown"
    otherwise. Same Arrow-batched mapInPandas plumbing as
    extract_media_meta: binary stays zero-copy to the Python boundary,
    the output is a uniform typed row per blob. Full stream decode
    (codec work) is exactly what this deliberately does NOT do — at
    100 TB the header pass is the cheap metadata sweep that routes
    blobs to the right (GPU) decode stage."""
    import pandas as pd

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "id", "n_bytes", "container", "brand", "channels",
                "sample_rate", "bits", "duration_ms",
            )}
            for i, buf in zip(pdf[id_col].values, pdf[blob_col].values):
                buf = bytes(buf) if buf is not None else b""
                meta = _wav_meta(buf) or _mp4_meta(buf) or {
                    "container": "unknown", "brand": None, "channels": None,
                    "sample_rate": None, "bits": None, "duration_ms": None,
                }
                out["id"].append(i)
                out["n_bytes"].append(len(buf))
                for k, v in meta.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), F.col(blob_col)).mapInPandas(fn, _AV_SCHEMA)
