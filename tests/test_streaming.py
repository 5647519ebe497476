"""Structured Streaming parity: the registered streaming aggregation and the
crawl's streaming WARC reader produce exactly what their batch twins do."""

import pytest

pytestmark = pytest.mark.spark


class TestStreamingExtraction:
    def test_streaming_counts_match_batch(self, spark):
        from pyspark.sql import functions as F

        from lightly_ocr_spark.streaming.file_stream import (
            streaming_event_counts,
        )

        sf = "/root/testdata/sf0.001"
        stream = {
            (r["event_type"], r["n"])
            for r in streaming_event_counts(spark, sf).collect()
        }
        batch = {
            (r["event_type"], r["n"])
            for r in spark.read.parquet(f"{sf}/events.parquet")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert stream == batch


class TestWarcStream:
    def test_streamed_archives_match_batch_ingest(self, spark, tmp_path):
        """binaryFile readStream over a WARC directory: incremental
        archive-by-archive extraction must equal the batch warc_pages ->
        extract path exactly, with no duplicates across triggers."""
        import uuid

        from lightly_ocr_spark.operators.extract_udf import extract_pages
        from lightly_ocr_spark.sources.warc import (
            make_warc,
            warc_pages,
            warc_pages_stream,
        )

        d = tmp_path / "warcs"
        d.mkdir()
        for part in range(3):
            recs = [
                (f"https://ws.example/{part}/{i}",
                 f"<html><body><p>streamed warc doc {part}-{i} carries a "
                 f"dozen words of body text</p></body></html>".encode())
                for i in range(10)
            ]
            (d / f"crawl-{part}.warc.gz").write_bytes(
                make_warc(recs, gzip_members=True)
            )

        streamed = extract_pages(
            warc_pages_stream(spark, str(d))
        ).select("url", "text", "extract_sha256")
        name = "warc_stream_" + uuid.uuid4().hex[:8]
        q = (
            streamed.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            triggers = sum(p["numInputRows"] > 0 for p in q.recentProgress)
        finally:
            q.stop()
        try:
            g = sorted(tuple(r) for r in spark.table(name).collect())
        finally:
            spark.catalog.dropTempView(name)

        want = extract_pages(warc_pages(spark, str(d))).select(
            "url", "text", "extract_sha256"
        )
        w = sorted(tuple(r) for r in want.collect())
        assert g == w and len(g) == 30
        assert len({r[0] for r in g}) == len(g)  # no url twice across triggers
        assert triggers == 3  # one archive per trigger
