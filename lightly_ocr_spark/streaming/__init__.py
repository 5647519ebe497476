"""Structured Streaming parity query.

The reference has no stream processing (SURVEY.md §2.8) — its only
"streaming" artifact is a reconnect loop (`ingress/db/db.go:108-132`).  The
graft is batch-first: `file_stream.py` serves the `__spark_entry__` query
`st1_streaming_counts` (batch/stream parity of one aggregation).  The live
streaming ingest is `jobs.crawl_job.run_crawl_stream`, which reads new WARC
drops through `sources.warc.warc_pages_stream`.
"""
