"""End-to-end Spark tests: golden byte-identity through the real job,
resume idempotence (S9), and salting vs host-domain skew (SURVEY.md §5.4-5.5).
"""

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from lightly_ocr_spark.jobs import extract_job
from lightly_ocr_spark.jobs.extract_job import (
    read_extracted,
    run_extract,
    verify_extracted,
)
from lightly_ocr_spark.sources import input_files

pytestmark = pytest.mark.spark


class TestExtractJob:
    def test_end_to_end_byte_identity(self, spark, pages_dir, out_dir):
        summary = run_extract(spark, pages_dir, out_dir, n_slices=3)
        assert summary["run"] == 3 and summary["rows_out"] == 1500
        v = verify_extracted(spark, pages_dir, out_dir)
        assert v["byte_identical"], v

        # schema contract (EXTRACTED_SCHEMA)
        ext = read_extracted(spark, out_dir)
        names = [f.name for f in ext.schema.fields]
        assert names == ["url", "warc_ts", "text", "spans", "n_blocks",
                         "extract_sha256", "part_id"]
        spans_t = ext.schema["spans"].dataType.simpleString()
        assert spans_t == "array<struct<start:bigint,end:bigint,score:double>>"

    def test_sha256_column_matches_hashlib(self, spark, pages_dir, out_dir):
        run_extract(spark, pages_dir, out_dir, n_slices=2)
        rows = read_extracted(spark, out_dir).select(
            "text", "extract_sha256"
        ).collect()
        assert rows
        for r in rows:
            want = hashlib.sha256(r["text"].encode("utf-8")).hexdigest()
            assert r["extract_sha256"] == want

    def test_resume_skips_committed_and_repairs_partial(
        self, spark, pages_dir, out_dir
    ):
        run_extract(spark, pages_dir, out_dir, n_slices=3)
        # simulate a crash after slice-1's data write but before its commit:
        # drop the manifest and corrupt the slice dir
        man = os.path.join(out_dir, "_manifests", "slice-1.json")
        os.remove(man)
        shutil.rmtree(os.path.join(out_dir, "slice=1"))
        os.makedirs(os.path.join(out_dir, "slice=1"))

        summary = run_extract(spark, pages_dir, out_dir, n_slices=3)
        assert summary["skipped"] == 2 and summary["run"] == 1
        v = verify_extracted(spark, pages_dir, out_dir)
        assert v["byte_identical"], v  # no dupes, no omissions

        # third run: everything committed, nothing executes
        summary = run_extract(spark, pages_dir, out_dir, n_slices=3)
        assert summary["skipped"] == 3 and summary["run"] == 0

    def test_manifests_lineage(self, spark, pages_dir, out_dir):
        run_extract(spark, pages_dir, out_dir, n_slices=3)
        manifests = sorted(
            glob.glob(os.path.join(out_dir, "_manifests", "slice-*.json"))
        )
        assert len(manifests) == 3
        seen_files = []
        total = 0
        for p in manifests:
            m = json.load(open(p))
            assert m["rows_out"] > 0 and m["checksum"] > 0
            seen_files += m["input_files"]
            total += m["rows_out"]
        # lineage covers every input file exactly once
        assert sorted(seen_files) == sorted(
            glob.glob(os.path.join(pages_dir, "*.parquet"))
        )
        assert total == 1500

        # U1 rollup: job-level union of slice manifests
        rollup = json.load(
            open(os.path.join(out_dir, "_manifests", "_rollup.json"))
        )
        assert rollup["slices"] == 3 and rollup["rows_out"] == 1500
        assert sorted(rollup["input_files"]) == sorted(seen_files)


class TestByteSizedSlices:
    def test_default_is_one_slice_per_slice_bytes(
        self, pages_dir, monkeypatch
    ):
        """ceil(input bytes / SLICE_BYTES) slices, at most one per file,
        from the listed files' sizes alone (no Spark job)."""
        files = input_files(pages_dir)
        total = sum(os.path.getsize(f) for f in files)
        assert len(extract_job._slice_files(files, None)) == 1

        monkeypatch.setattr(extract_job, "SLICE_BYTES", total // 3 + 1)
        slices = extract_job._slice_files(files, None)
        assert len(slices) == 3
        assert sorted(f for s in slices for f in s) == files
        sb = total // 4
        monkeypatch.setattr(extract_job, "SLICE_BYTES", sb)
        assert len(extract_job._slice_files(files, None)) == -(-total // sb)
        monkeypatch.setattr(extract_job, "SLICE_BYTES", 1)
        assert len(extract_job._slice_files(files, None)) == len(files)

    def test_default_rerun_skips_and_other_count_raises(
        self, spark, pages_dir, out_dir, tmp_path
    ):
        s = run_extract(spark, pages_dir, out_dir)
        assert (s["slices"], s["run"], s["rows_out"]) == (1, 1, 1500)
        s = run_extract(spark, pages_dir, out_dir)
        assert (s["slices"], s["skipped"], s["run"]) == (1, 1, 0)

        pinned = str(tmp_path / "pinned")
        run_extract(spark, pages_dir, pinned, n_slices=3)
        with pytest.raises(ValueError, match=r"run of 3 slices .*--slices 3"):
            run_extract(spark, pages_dir, pinned)

        # slice 0 of the 3-slice run never committed: the default cut's
        # only slice has no manifest, but the --out still holds slices 1-2
        # of the other cut, which a rerun would double-count
        os.remove(os.path.join(pinned, "_manifests", "slice-0.json"))
        with pytest.raises(ValueError, match=r"run of 3 slices .*--slices 3"):
            run_extract(spark, pages_dir, pinned)

        # a manifest without a recorded count cannot vouch for its cut
        man = os.path.join(out_dir, "_manifests", "slice-0.json")
        m = json.load(open(man))
        del m["slices"]
        json.dump(m, open(man, "w"))
        with pytest.raises(ValueError, match=r"unrecorded .*fresh --out"):
            run_extract(spark, pages_dir, out_dir)


class TestSlotPolicy:
    def test_one_task_slot_per_core(self):
        """python_heavy is accepted and ignored: a pandas-UDF Python
        worker uses one core, so every core is a task slot.  A fresh
        process, because getOrCreate would hand back the suite's session."""
        code = (
            "from lightly_ocr_spark.plans.session import build_session\n"
            "s = build_session('slots', cores=3, python_heavy=True)\n"
            "sc = s.sparkContext\n"
            "print('SLOTS', sc.defaultParallelism"
            " // int(s.conf.get('spark.task.cpus', '1')))\n"
            "s.stop()\n"
        )
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=root)
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=root, env=env,
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert "SLOTS 3" in out.stdout.splitlines(), out.stdout


class TestSaltAutoDefault:
    def test_parquet_default_is_narrow_warc_default_salts(
        self, spark, pages_dir, out_dir, tmp_path
    ):
        """salt=None resolves by input splittability: parquet scans get
        byte-uniform splits for free (salting costs ~21% throughput for no
        balance gain), gzip WARC archives do not (one archive = one task
        until the post-parse shuffle).  Forcing salt=True still salts."""
        run_extract(spark, pages_dir, out_dir, n_slices=2)
        m = json.load(open(os.path.join(out_dir, "_manifests", "slice-0.json")))
        assert m["salted"] is False

        forced = str(tmp_path / "forced")
        run_extract(spark, pages_dir, forced, n_slices=2, salt=True)
        m = json.load(open(os.path.join(forced, "_manifests", "slice-0.json")))
        assert m["salted"] is True

        from lightly_ocr_spark.sources.warc import make_warc

        wdir = tmp_path / "warc_in"
        wdir.mkdir()
        recs = [
            (f"http://h{i % 3}.test/p{i}",
             f"<html><body><p>doc {i} body text here</p></body></html>"
             .encode())
            for i in range(20)
        ]
        (wdir / "a.warc.gz").write_bytes(make_warc(recs, gzip_members=True))
        wout = str(tmp_path / "warc_out")
        run_extract(spark, str(wdir), wout, n_slices=1, input_format="warc")
        m = json.load(open(os.path.join(wout, "_manifests", "slice-0.json")))
        assert m["salted"] is True


class TestSkewSalting:
    def test_url_hash_salting_bounds_partition_skew(self, spark, pages_dir):
        """Zipf hosts (a≈1.3, top host ~24% of rows) must NOT translate into
        partition skew once salted by xxhash64(url) (north_rule)."""
        pages = spark.read.parquet(pages_dir)
        n_part = 8
        salted = pages.repartition(n_part, F.xxhash64("url"))
        sizes = (
            salted.select(F.spark_partition_id().alias("p"))
            .groupBy("p").count().collect()
        )
        counts = [r["count"] for r in sizes]
        assert len(counts) == n_part
        ratio = max(counts) / (sum(counts) / len(counts))
        assert ratio < 1.35, counts  # near-uniform despite host zipf

        # contrast: partitioning by host IS skewed (sanity of the fixture)
        host = F.regexp_extract("url", r"https://([^/]+)/", 1)
        by_host = pages.repartition(n_part, host)
        hcounts = [
            r["count"]
            for r in by_host.select(F.spark_partition_id().alias("p"))
            .groupBy("p").count().collect()
        ]
        hratio = max(hcounts) / (sum(hcounts) / len(hcounts))
        assert hratio > ratio  # salting strictly improves balance

    def test_single_host_corpus_still_balances(self, spark):
        """Pathological skew: EVERY row from one host.  Host-keyed
        partitioning collapses to one partition; xxhash64(url) stays
        uniform because the url path still varies (north_rule)."""
        from pyspark.sql import functions as F

        n = 4000
        pages = spark.range(n).select(
            F.concat(F.lit("https://megahost.example.org/page-"), "id")
            .alias("url")
        )
        n_part = 8
        counts = [
            r["count"]
            for r in pages.repartition(n_part, F.xxhash64("url"))
            .select(F.spark_partition_id().alias("p"))
            .groupBy("p").count().collect()
        ]
        assert len(counts) == n_part
        ratio = max(counts) / (n / n_part)
        assert ratio < 1.25, counts


class TestExtractedReporting:
    def test_per_host_rollup_over_extracted(self, spark, pages_dir, out_dir):
        """Reporting over the engine's OWN output: per-host doc counts and
        text volume (the downstream-keyed aggregation the salting exists
        for)."""
        run_extract(spark, pages_dir, out_dir, n_slices=2)
        ext = read_extracted(spark, out_dir)
        host = F.regexp_extract("url", r"https://([^/]+)/", 1)
        rollup = (
            ext.groupBy(host.alias("host"))
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.length("text")).alias("chars"),
                F.round(F.avg("n_blocks"), 2).alias("avg_blocks"),
            )
            .collect()
        )
        assert sum(r["docs"] for r in rollup) == 1500
        assert len(rollup) > 10  # many hosts (zipf tail present)
        top = max(rollup, key=lambda r: r["docs"])
        assert top["docs"] > 1500 * 0.15  # zipf head visible in output


class TestCompactJob:
    def test_many_small_files_compact_losslessly(self, spark, tmp_path):
        """64 tiny files -> few target-size files: same rows/values, a
        _compaction manifest, and the original left untouched on row
        mismatch (verified by the abort path's own guard)."""
        from lightly_ocr_spark.jobs.compact_job import run_compact

        src = str(tmp_path / "many_small")
        df = spark.range(10000).selectExpr(
            "id", "concat('text for row ', id) AS text"
        )
        df.repartition(64).write.parquet(src)
        n_in = len(glob.glob(os.path.join(src, "*.parquet")))
        assert n_in >= 32  # genuinely many small files

        out = str(tmp_path / "compacted")
        m = run_compact(spark, src, out, target_bytes=1 << 20)
        assert m["rows"] == 10000
        assert m["files_out"] < m["files_in"]
        assert m["files_out"] <= 4

        got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
        want = sorted(tuple(r) for r in df.collect())
        assert got == want
        assert os.path.exists(os.path.join(out, "_compaction.json"))

    def test_compact_replaces_existing_output_atomically(self, spark, tmp_path):
        from lightly_ocr_spark.jobs.compact_job import run_compact

        src = str(tmp_path / "src")
        spark.range(500).write.parquet(src)
        out = str(tmp_path / "dst")
        run_compact(spark, src, out)
        # second run against the SAME out dir replaces it, same contents
        m = run_compact(spark, src, out)
        assert m["rows"] == 500
        assert spark.read.parquet(out).count() == 500
        assert not os.path.exists(out + ".inprogress")
        assert not os.path.exists(out + ".replaced")


class TestJsonlSource:
    def test_jsonl_gz_to_pages_and_extraction(self, spark, tmp_path):
        """JSONL.gz corpus -> pages schema -> the same fused extraction:
        gzip handled transparently, missing fields typed null, html strings
        encoded to binary, rows without a url dropped."""
        import gzip
        import json as J

        from lightly_ocr_spark.operators.extract_udf import extract_pages
        from lightly_ocr_spark.schemas import PAGES_SCHEMA
        from lightly_ocr_spark.sources.jsonl import read_jsonl_pages

        d = tmp_path / "jsonl"
        d.mkdir()
        rows = [
            {"url": f"https://j.example/{i}",
             "timestamp": "2024-03-01T00:00:00Z",
             "html": f"<html><body><p>jsonl doc {i} carries a dozen "
                     f"plain words of body text</p></body></html>"}
            for i in range(30)
        ]
        rows.append({"html": "<p>no url: dropped</p>"})
        rows.append({"url": "https://j.example/nohtml"})
        blob = "\n".join(J.dumps(r) for r in rows).encode()
        (d / "part0.jsonl.gz").write_bytes(gzip.compress(blob))

        pages = read_jsonl_pages(spark, str(d))
        assert pages.columns == [f.name for f in PAGES_SCHEMA.fields]
        got = pages.collect()
        assert len(got) == 31                     # url-less row dropped
        assert all(isinstance(r["html"], (bytes, bytearray)) for r in got)
        by_url = {r["url"]: r for r in got}
        for i in range(30):  # timestamped rows parse; absent field -> null
            assert by_url[f"https://j.example/{i}"]["warc_ts"] is not None
        assert by_url["https://j.example/nohtml"]["warc_ts"] is None

        ext = extract_pages(pages, keep_empty=True)
        texts = {r["url"]: r["text"] for r in ext.collect()}
        for i in range(30):
            assert f"jsonl doc {i} carries" in texts[f"https://j.example/{i}"]
        assert texts["https://j.example/nohtml"] == ""  # empty html -> empty

    def test_extract_job_jsonl_format_e2e(self, spark, tmp_path):
        """--format jsonl: the sliced/resumable job consumes JSONL.gz
        directly; gz input auto-salts (non-splittable), manifests commit."""
        import gzip
        import json as J

        d = tmp_path / "jl"
        d.mkdir()
        for part in range(2):
            rows = [
                {"url": f"https://jl.example/{part}/{i}",
                 "html": f"<p>jsonl job doc {part}-{i} has a dozen words "
                         f"of plain body text right here</p>"}
                for i in range(25)
            ]
            (d / f"p{part}.jsonl.gz").write_bytes(
                gzip.compress("\n".join(J.dumps(r) for r in rows).encode())
            )
        out = str(tmp_path / "out")
        s = run_extract(spark, str(d), out, n_slices=2,
                        input_format="jsonl")
        assert s["rows_out"] == 50 and s["run"] == 2
        m = json.load(open(os.path.join(out, "_manifests", "slice-0.json")))
        assert m["salted"] is True  # gz jsonl auto-salts
        ext = read_extracted(spark, out)
        assert ext.count() == 50
        assert ext.filter(F.col("text").contains("jsonl job doc")).count() == 50

    def test_compact_recovers_interrupted_swap(self, spark, tmp_path):
        """Crash between the two swap renames leaves out_dir missing and
        the original at .replaced; the next run must restore it first."""
        from lightly_ocr_spark.jobs.compact_job import run_compact
        from lightly_ocr_spark.sources.commit import recover_interrupted_swap

        src = str(tmp_path / "src2")
        spark.range(300).write.parquet(src)
        out = str(tmp_path / "dst2")
        run_compact(spark, src, out)
        # simulate the crash window: out renamed away, new dir never moved in
        os.rename(out, out + ".replaced")
        assert not os.path.exists(out)
        assert recover_interrupted_swap(out)
        assert spark.read.parquet(out).count() == 300
        # run_compact itself also recovers before reading
        os.rename(out, out + ".replaced")
        m = run_compact(spark, src, out)
        assert m["rows"] == 300 and spark.read.parquet(out).count() == 300

    def test_jsonl_text_only_corpus_flows_through(self, spark, tmp_path):
        """RedPajama/Dolma shape — url + text, NO html: rows must survive
        extraction (text used as the page body, whitespace-canonicalized)
        instead of every row extracting to '' from an empty html column."""
        import json as J

        from lightly_ocr_spark.operators.extract_udf import extract_pages
        from lightly_ocr_spark.sources.jsonl import read_jsonl_pages

        d = tmp_path / "textonly"
        d.mkdir()
        rows = [
            {"url": f"https://t.example/{i}",
             "text": f"plain   text doc {i} carrying a full dozen words "
                     f"of real body  content so the density filters keep "
                     f"it\n\nwith messy    whitespace"}
            for i in range(10)
        ]
        (d / "p.jsonl").write_text("\n".join(J.dumps(r) for r in rows))
        pages = read_jsonl_pages(spark, str(d))
        ext = extract_pages(pages, keep_empty=False)
        got = {r["url"]: r["text"] for r in ext.collect()}
        assert len(got) == 10
        for i in range(10):
            t = got[f"https://t.example/{i}"]
            assert f"plain text doc {i}" in t  # canonicalized, non-empty

    def test_jsonl_per_slice_salt_decision(self, spark, tmp_path):
        """Mixed jsonl input: the slice holding only plain .jsonl stays
        narrow while the slice with a .gz member salts."""
        import gzip
        import json as J

        d = tmp_path / "mixed"
        d.mkdir()
        rows = [{"url": f"https://m.example/{i}",
                 "html": f"<p>mixed dir doc {i} has a dozen words of body "
                         f"text right here</p>"} for i in range(20)]
        blob = "\n".join(J.dumps(r) for r in rows[:10])
        # slice 0 gets a.jsonl (plain), slice 1 gets b.jsonl.gz
        (d / "a.jsonl").write_text(blob)
        (d / "b.jsonl.gz").write_bytes(gzip.compress(
            "\n".join(J.dumps(r) for r in rows[10:]).encode()))
        out = str(tmp_path / "mixed_out")
        s = run_extract(spark, str(d), out, n_slices=2,
                        input_format="jsonl")
        assert s["rows_out"] == 20
        salted = {
            json.load(open(os.path.join(out, "_manifests", f"slice-{k}.json")))
            ["input_files"][0].endswith(".gz"):
            json.load(open(os.path.join(out, "_manifests", f"slice-{k}.json")))
            ["salted"]
            for k in (0, 1)
        }
        assert salted == {False: False, True: True}
