"""WARC ingest: Common-Crawl's native container format -> pages rows.

Dependency-free ISO 28500 subset: splits a WARC (plain or gzip, including
CC's per-record-gzip-member layout) into records, keeps ``WARC-Type:
response``, takes ``WARC-Target-URI`` / ``WARC-Date``, and strips the HTTP
envelope so the payload body lands in the ``html`` binary column — the
front door a real CC pipeline needs before extraction (graft of the
reference's ingest plane, `ingress/server.go` + the KV fetch
`pipeline.py:106-112`, restated as a batch file source).

Spark shape: `binaryFile` scan -> ONE `mapInPandas` that explodes each
archive into page rows.  At 10^12 scale each WARC is ~1 GB and a task
processes whole files; parallelism comes from the file count (CC publishes
~72k WARCs per crawl), so there is no shuffle anywhere in ingest.
Malformed records are skipped, never raised — a corrupt archive costs its
own records only.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd

GZIP_MAGIC = b"\x1f\x8b"


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members ONE AT A TIME (CC writes one member
    per record, so peak memory is one record, not the whole multi-GB
    inflated archive — inflating a ~1 GB gzip WARC in full would hold
    several GB per concurrent task)."""
    while data[:2] == GZIP_MAGIC:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            chunk = d.decompress(data)
        except zlib.error:
            return
        yield chunk
        data = d.unused_data
        if not data:
            return


def _parse_headers(block: bytes) -> dict[bytes, bytes]:
    headers: dict[bytes, bytes] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
    return headers


def _strip_http_envelope(payload: bytes) -> bytes:
    """response records carry an HTTP message; the body starts after the
    first blank line.  Non-HTTP payloads pass through unchanged."""
    if payload[:5] in (b"HTTP/", b"HTTP "):
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4:]
    return payload


_NEED_MORE = -1


def _next_record(buf: bytes, pos: int) -> tuple[dict | None, int, int]:
    """Parse one record starting at/after `pos`.

    Returns (record_or_None, new_pos, keep_from); new_pos == _NEED_MORE
    means the buffer holds no complete record from `pos` — wait for more
    data (at end of input the pending tail is garbage or a truncated
    record, dropped).  `keep_from` is the earliest offset the next attempt
    could need: the start of the pending record if one is in sight, else
    everything but a possible 'WARC/'-prefix straddle — bytes before it
    are safely discardable, which is what keeps garbage input linear-time
    and bounded-memory instead of rescanning an ever-growing buffer."""
    start = buf.find(b"WARC/", pos)
    if start < 0:
        return None, _NEED_MORE, max(pos, len(buf) - 4)
    head_end = buf.find(b"\r\n\r\n", start)
    if head_end < 0:
        return None, _NEED_MORE, start
    headers = _parse_headers(bytes(buf[start:head_end]))
    try:
        length = int(headers.get(b"content-length", b""))
    except ValueError:
        length = -1
    if length < 0:  # malformed/hostile (e.g. negative): skip header, keep
        # moving — new_pos must always advance past `start` or a single
        # bad record would loop the task forever.
        return None, head_end + 4, head_end + 4
    body_start = head_end + 4
    body_end = body_start + length
    if body_end > len(buf):
        return None, _NEED_MORE, start  # incomplete: keep whole record
    rec = None
    if headers.get(b"warc-type") == b"response":
        uri = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        if uri:
            rec = {
                "url": uri,
                "warc_date": headers.get(b"warc-date", b"").decode(
                    "ascii", "replace"
                ),
                "html": _strip_http_envelope(bytes(buf[body_start:body_end])),
            }
    return rec, body_end, body_end


def _iter_records(chunks: Iterator[bytes]) -> Iterator[dict]:
    """Streaming record parse over decompressed chunks: complete records
    are yielded and released as soon as their bytes arrive; only the
    bytes the next parse could still need (normally < one record, and for
    magic-less garbage at most 4 bytes) are carried across chunks."""
    buf = bytearray()
    for chunk in chunks:
        buf += chunk
        pos = 0
        while True:
            rec, nxt, keep = _next_record(buf, pos)
            if nxt == _NEED_MORE:
                pos = keep
                break
            pos = nxt
            if rec is not None:
                yield rec
        if pos:
            del buf[:pos]
    pos = 0
    while True:
        rec, nxt, _ = _next_record(buf, pos)
        if nxt == _NEED_MORE:
            return  # truncated/garbage tail: dropped, never raised
        pos = nxt
        if rec is not None:
            yield rec


def parse_warc(data: bytes | None) -> Iterator[dict]:
    """WARC bytes -> dicts {url, warc_date, html} for response records.

    Gzip archives are decompressed MEMBER BY MEMBER and parsed
    incrementally — peak memory is one record plus any carried tail, not
    the inflated archive."""
    if not data:
        return
    if data[:2] == GZIP_MAGIC:
        chunks: Iterator[bytes] = _iter_gzip_members(data)
    else:
        chunks = iter((data,))
    yield from _iter_records(chunks)


# flush thresholds for the explode stage: with streaming member-by-member
# decompression, peak task memory is one flush chunk (~64 MB of payloads),
# not the whole inflated archive
_FLUSH_RECORDS = 4096
_FLUSH_BYTES = 64 << 20


def _explode_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        for blob in pdf["content"]:
            urls, dates, payloads, held = [], [], [], 0
            for rec in parse_warc(blob):
                urls.append(rec["url"])
                dates.append(rec["warc_date"] or None)
                payloads.append(rec["html"])
                held += len(rec["html"])
                if len(urls) >= _FLUSH_RECORDS or held >= _FLUSH_BYTES:
                    yield pd.DataFrame(
                        {
                            "url": pd.Series(urls, dtype="object"),
                            "warc_date": pd.Series(dates, dtype="object"),
                            "html": pd.Series(payloads, dtype="object"),
                        }
                    )
                    urls, dates, payloads, held = [], [], [], 0
            if urls:
                yield pd.DataFrame(
                    {
                        "url": pd.Series(urls, dtype="object"),
                        "warc_date": pd.Series(dates, dtype="object"),
                        "html": pd.Series(payloads, dtype="object"),
                    }
                )


def explode_archives(files_df) -> "object":
    """(.., content binary) frame -> pages(url, warc_ts, html).

    The ONE parse+projection shared by the batch front door (`warc_pages`)
    and the streaming one (`warc_pages_stream`) — the timestamp contract
    and output schema cannot drift between them."""
    from pyspark.sql import functions as F

    raw = files_df.select("content").mapInPandas(
        _explode_partition,
        schema="url string, warc_date string, html binary",
    )
    return raw.select(
        "url",
        # try_cast parses ISO 8601 with or without fractional seconds
        # (WARC 1.1 allows sub-second WARC-Date) and NULLs malformed input
        # instead of raising under ANSI mode
        F.col("warc_date").try_cast("timestamp").alias("warc_ts"),
        "html",
    )


def warc_pages(spark, warc_path: str | list[str]):
    """WARC directory (or explicit file list) -> pages(url, warc_ts, html),
    extraction-ready."""
    return explode_archives(spark.read.format("binaryFile").load(warc_path))


def warc_pages_stream(spark, warc_dir: str):
    """Streaming twin of `warc_pages`: a binaryFile stream over the archive
    directory, one newly-dropped archive exploded to pages rows per
    trigger.  Feeds `jobs.crawl_job.run_crawl_stream`."""
    # streaming sources require an explicit schema; binaryFile's is fixed
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.warc*")
        .option("maxFilesPerTrigger", "1")
        .load(warc_dir)
    )
    return explode_archives(files)


# --- deterministic synthesizer (tests; same philosophy as pdf.make_pdf) ---

def make_warc_record(
    url: str, payload: bytes, warc_type: str = "response",
    date: str = "2020-01-01T00:00:00Z", http: bool = True,
) -> bytes:
    if "\r" in url or "\n" in url:
        raise ValueError(
            "CR/LF in target URI would inject/split WARC headers and "
            "round-trip lossily — URIs carry no control characters"
        )
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + payload
        if http else payload
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("utf-8")  # real crawls carry raw UTF-8 target URIs
    return head + body + b"\r\n\r\n"


def make_warc(records: list[tuple[str, bytes]], gzip_members: bool = False,
              **kw) -> bytes:
    out = bytearray()
    for url, payload in records:
        rec = make_warc_record(url, payload, **kw)
        if gzip_members:
            co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            rec = co.compress(rec) + co.flush()
        out += rec
    return bytes(out)
