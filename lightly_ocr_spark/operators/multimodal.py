"""Multimodal columns: image/audio/video as opaque `binary` + typed metadata.

The graft treats media exactly like the reference treats image buffers
(`ocr/tools/generator.py:62-63`: bytes in a KV store, validity-checked by a
decode probe, `generator.py:10-18`): an opaque binary column plus declared
metadata, processed by Arrow-batched functions.

The decode is a header probe, not a pixel decode: `probe_image` parses
PNG / JPEG / GIF headers (pure Python, no media libs) for magic,
dimensions and, for PNG, the IHDR CRC.  `valid_media` runs it as one
Arrow-batched filter and is the graft of the reference's decode-probe
validity filter (`ocr/tools/generator.py:10-18`: decode the bytes, drop
the row if the decode fails or the size is degenerate).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def probe_image(payload: bytes | None) -> dict:
    """Parse an image header without media libraries.

    Returns {mime, width, height, valid}.  valid=True only when the magic
    matches a known format, the dimensions parse and are positive, and (for
    PNG) the IHDR chunk's CRC verifies — a truncated or bit-flipped payload
    fails, which is exactly the reference's decode-probe semantics
    (`ocr/tools/generator.py:10-18`) without rasterizing pixels."""
    bad = {"mime": None, "width": None, "height": None, "valid": False}
    if not payload:
        return bad
    if payload.startswith(PNG_SIG):
        # IHDR must be first: len(4) type(4)="IHDR" data(13) crc(4)
        if len(payload) < 33 or payload[12:16] != b"IHDR":
            return bad
        (ihdr_len,) = struct.unpack(">I", payload[8:12])
        if ihdr_len != 13:
            return bad
        if zlib.crc32(payload[12:29]) != struct.unpack(">I", payload[29:33])[0]:
            return bad
        w, h = struct.unpack(">II", payload[16:24])
        ok = 0 < w < 2**31 and 0 < h < 2**31
        return {"mime": "image/png", "width": w if ok else None,
                "height": h if ok else None, "valid": ok}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            return bad
        w, h = struct.unpack("<HH", payload[6:10])
        ok = w > 0 and h > 0
        return {"mime": "image/gif", "width": w if ok else None,
                "height": h if ok else None, "valid": ok}
    if payload[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOF marker (C0-CF minus C4/C8/CC)
        i = 2
        n = len(payload)
        while i + 3 < n:
            if payload[i] != 0xFF:
                return {"mime": "image/jpeg", "width": None,
                        "height": None, "valid": False}
            marker = payload[i + 1]
            if marker == 0xFF:      # fill byte
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2              # standalone markers, no length
                continue
            if i + 4 > n:
                break
            (seg_len,) = struct.unpack(">H", payload[i + 2:i + 4])
            if seg_len < 2:
                break
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > n:
                    break
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                ok = w > 0 and h > 0
                return {"mime": "image/jpeg", "width": w if ok else None,
                        "height": h if ok else None, "valid": ok}
            i += 2 + seg_len
        return {"mime": "image/jpeg", "width": None, "height": None,
                "valid": False}
    return bad


def _image_passes(payload: bytes | None, width, height) -> bool:
    """Decode probe succeeds and the parsed dimensions agree with the
    declared ones (a null declared dimension is not checked)."""
    p = probe_image(payload)
    return (p["valid"]
            and (pd.isna(width) or p["width"] == width)
            and (pd.isna(height) or p["height"] == height))


def _valid_partition(carried: list[str], batches: Iterator[pd.DataFrame]
                     ) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        # a null kind is dropped, as `kind != 'image'` drops it in SQL
        keep = [
            kind is not None
            and (kind != "image" or _image_passes(payload, w, h))
            for kind, payload, w, h in zip(
                pdf["kind"], pdf["payload"], pdf["_w"], pdf["_h"]
            )
        ]
        yield pdf.loc[keep, carried]


def valid_media(media: DataFrame) -> DataFrame:
    """F7-analog validity filter, one Arrow crossing: keep images whose
    payload header parses AND whose parsed dimensions agree with the
    declared metadata (a lying `meta.width` is as disqualifying as a
    truncated payload).  Non-image kinds (audio/video) pass through —
    the probe only understands image formats, so failing them would
    silently drop every valid audio/video row.

    Returns the passing rows' columns other than `kind`, `payload` and
    `meta`: callers carry what they need downstream (a url, a hash the
    JVM computed) through the crossing, and the payload bytes never
    come back out of Python."""
    carried = [f for f in media.schema.fields
               if f.name not in ("kind", "payload", "meta")]
    names = [f.name for f in carried]
    return media.select(
        *names, "kind", "payload",
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    ).mapInPandas(
        partial(_valid_partition, names), schema=T.StructType(carried)
    )


def make_png(width: int, height: int, tail: bytes = b"") -> bytes:
    """Minimal PNG header (signature + CRC-valid IHDR) + opaque tail."""
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (PNG_SIG + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)) + tail)


def make_gif(width: int, height: int, tail: bytes = b"") -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00" + tail


def make_jpeg(width: int, height: int, tail: bytes = b"") -> bytes:
    """SOI + APP0 stub + SOF0 carrying the dimensions."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", height, width) + b"\x03"
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + sof0 + tail


def synthetic_media(spark, n: int = 256) -> DataFrame:
    """Deterministic fake media table.  Image payloads carry REAL headers
    (PNG/GIF/JPEG round-robin, dims matching the declared meta) so the
    header probe exercises the same parse a production corpus would;
    audio/video payloads stay opaque seeded bytes."""
    import random

    rows = []
    for i in range(n):
        rng = random.Random(1000 + i)
        kind = ("image", "audio", "video")[i % 3]
        tail = bytes(rng.getrandbits(8) for _ in range(128 + (i % 5) * 64))
        if kind == "image":
            w, h = 64 + i % 32, 48 + i % 24
            maker = (make_png, make_gif, make_jpeg)[(i // 3) % 3]
            payload = maker(w, h, tail)
            mime = {make_png: "image/png", make_gif: "image/gif",
                    make_jpeg: "image/jpeg"}[maker]
        else:
            w = h = None
            payload = tail
            mime = {"audio": "audio/fake", "video": "video/fake"}[kind]
        meta = {
            "width": w,
            "height": h,
            "sample_rate": 16000 if kind == "audio" else None,
            "n_frames": 30 * (1 + i % 4) if kind == "video" else None,
            "mime": mime,
        }
        rows.append((i, kind, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
